package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Text-analysis operators for an LLM training-data pipeline
  * (SURVEY.md §2): token counting, quality scoring, heuristic
  * language ID, content fingerprinting, n-gram frequencies.
  *
  * Everything is built from codegen'd `functions._` — per-document
  * work is embarrassingly parallel (no shuffle except the final
  * corpus-level aggregations), so the plans scale linearly with
  * input splits, the property the reference's map-only jobs had.
  *
  * Ratios are emitted as exact integer basis points (x div y in long
  * arithmetic) so the DuckDB oracle compares exactly.
  */
object TextAnalysis {

  private val STOPWORDS = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace tokens + BPE-ish subword tokens per document. The
    * subword regex splits runs of letters, digits, and single
    * non-alphanumerics — the shape a byte-pair pre-tokenizer produces. */
  def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_ws_tokens"),
        size(expr(
          """regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"""))
          .cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Quality signals: length, token count, stopword hits, mean token
    * length; score = stopword basis points (a cheap fluency proxy). */
  def quality(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val stopHits = size(filter(t, w => w.isin(STOPWORDS: _*)))
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len_chars"),
        size(t).cast("long").as("n_tokens"),
        stopHits.cast("long").as("stop_hits"))
      // integer `div` throughout: Spark casts fp quotients by
      // truncation but DuckDB casts by rounding, so any emitted ratio
      // must never pass through a double
      .withColumn("mean_tok_len_x100",
        expr("(100 * length(replace(trim(text), ' ', ''))) div n_tokens"))
      .withColumn("stop_bps", expr("(10000 * stop_hits) div n_tokens"))
      .drop("text")
      .orderBy(col("doc_id"))
  }

  // ---- Language ID: character-trigram profiles (Cavnar-Trenkle) ----
  //
  // Top distinctive trigrams per language with inverse-rank-ish
  // weights — the published C-T profile method reduced to a fixed
  // CONSTANT table, so scoring is a map-only codegen'd expression:
  // no model file, no shuffle, no UDF. Occurrences are counted with
  // the replace-length identity (length(x) - length(replace(x,g,'')))
  // which is 3x the count; the uniform x3 cancels in the argmax and
  // margin. Chinese is scored by CJK codepoint count (script
  // detection — the right signal where trigrams of latin letters say
  // nothing), scaled x12 to be commensurate with a weight-4 trigram.
  private[graft] val LATIN_LANGS = Seq("de", "en", "es", "fr")
  private[graft] val LANG_IDS = LATIN_LANGS :+ "zh"
  private[graft] val LANG_PROFILES: Map[String, Seq[(String, Int)]] = Map(
    "de" -> Seq("en " -> 4, "er " -> 4, "ch " -> 3, "der" -> 5, "ie " -> 3,
      "die" -> 5, "sch" -> 4, "ein" -> 4, "ich" -> 4, "cht" -> 3,
      "und" -> 5, " un" -> 3, "den" -> 2, "ung" -> 3, " ge" -> 2, "ber" -> 2),
    "en" -> Seq(" th" -> 5, "the" -> 5, "he " -> 4, " an" -> 3, "and" -> 4,
      "nd " -> 2, " of" -> 3, "of " -> 3, "ing" -> 4, "ng " -> 3,
      " to" -> 3, "to " -> 2, " in" -> 2, "ion" -> 2, "ed " -> 2, " is" -> 2),
    "es" -> Seq(" de" -> 5, "de " -> 4, "os " -> 4, " la" -> 4, "la " -> 4,
      "el " -> 4, " el" -> 3, "que" -> 4, " qu" -> 3, "ue " -> 2,
      "ar " -> 3, " en" -> 2, "en " -> 2, "as " -> 3, "ión" -> 3, " co" -> 2),
    "fr" -> Seq(" de" -> 5, "de " -> 4, " le" -> 5, "le " -> 4, "es " -> 3,
      "ent" -> 3, "nt " -> 2, " et" -> 4, "et " -> 3, "que" -> 4,
      " qu" -> 3, "ue " -> 2, " la" -> 4, "la " -> 3, "les" -> 3, " pa" -> 2))

  /** Per-language score over a `pad` column (= ' '||lower(text)||' ').
    * Pure length/replace arithmetic — the SAME SQL text runs in Spark
    * and in the DuckDB oracle. */
  private[graft] def langScoreSql(lang: String): String =
    LANG_PROFILES(lang)
      .map { case (g, w) =>
        // 64-bit: Spark's length() is Int and a huge doc (tens of MB)
        // would wrap a 32-bit score; DuckDB is BIGINT natively, so the
        // cast keeps BOTH engines in the same arithmetic.
        s"$w * (CAST(length(pad) AS BIGINT) - length(replace(pad, '$g', '')))" }
      .mkString(" + ")

  /** Shared argmax/margin fragments over columns s_de..s_zh. Argmax
    * ties break by the fixed CASE order (alphabetical) and a tie makes
    * the margin zero -> 'und' anyway. Confidence: top must beat the
    * runner-up by >= 20% of itself, else 'und' (the C-T "no clear
    * winner" cutoff made deterministic). */
  private[graft] val langTopSql: String =
    s"greatest(${LANG_IDS.map("s_" + _).mkString(", ")})"
  private[graft] val langArgSql: String =
    "CASE " + LANG_IDS.map(l => s"WHEN s_$l = top_score THEN '$l'")
      .mkString(" ") + " END"
  private[graft] val langSecondSql: String =
    "CASE " + LANG_IDS.map { l =>
      val rest = LANG_IDS.filterNot(_ == l).map("s_" + _).mkString(", ")
      s"WHEN arg = '$l' THEN greatest($rest)"
    }.mkString(" ") + " END"
  private[graft] val langPredSql: String =
    """CASE WHEN top_score <= 0 THEN 'und'
      |     WHEN 5 * (top_score - second_score) < top_score THEN 'und'
      |     ELSE arg END""".stripMargin

  /** Language ID over any (doc_id, lang, text) frame — the spec runs
    * this on a hand-built multilingual corpus. */
  private[graft] def langIdOn(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("pad", concat(lit(" "), lower(col("text")), lit(" ")))
    val scored = LATIN_LANGS
      .foldLeft(base)((df, l) => df.withColumn(s"s_$l", expr(langScoreSql(l))))
      // CJK count: Java regex class with the actual range chars (the
      // oracle writes the same class in RE2 \x{...} syntax)
      .withColumn("s_zh", lit(12L) * (length(col("text")).cast("long") -
        length(regexp_replace(col("text"), "[一-鿿]", ""))))
    scored
      .withColumn("top_score", expr(langTopSql))
      .withColumn("arg", expr(langArgSql))
      .withColumn("second_score", expr(langSecondSql))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        expr(langPredSql).as("pred_lang"),
        col("top_score").cast("long").as("top_score"),
        col("second_score").cast("long").as("second_score"))
      .orderBy(col("doc_id"))
  }

  /** Language ID: Cavnar-Trenkle character-trigram profiles for
    * de/en/es/fr + CJK script detection for zh, with a confidence
    * margin (clear-winner-or-'und'). Map-only — the profile table is
    * a compile-time constant folded into one codegen'd projection, so
    * at 100 TB this costs exactly one corpus scan, zero shuffles. */
  def langId(s: SparkSession, d: String): DataFrame =
    langIdOn(Tables.documents(s, d))

  /** Classifier-evaluation audit for [[langId]] — the confusion
    * matrix between the corpus's DECLARED language labels and the
    * trigram classifier's predictions, the report a curation
    * pipeline publishes before trusting either side (a hot
    * off-diagonal cell means mislabeled ingest metadata OR a
    * classifier blind spot — both show up here first). Per
    * (labeled, predicted) cell: doc count and a doc-id checksum
    * that pins the exact membership without shipping rows. One
    * map-only scoring pass (the [[langId]] projection) + one
    * constant-key aggregate — the output is |langs|²-scale no
    * matter the corpus size. */
  def langConfusion(s: SparkSession, d: String): DataFrame =
    langIdOn(Tables.documents(s, d))
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("labeled_lang"), col("pred_lang"))

  /** Content fingerprint: md5 over the UTF-8 bytes of the normalized
    * (trimmed, lowercased) text — identical definition in DuckDB. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      .orderBy(col("doc_id"))

  /** Rabin-Karp rolling-hash fingerprint (native codegen expression;
    * the md5 variant above is the cryptographic cousin). Oracle mirrors
    * the identical fold in DuckDB list_reduce. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.RollingHash.rollingHash(lower(trim(col("text"))))
          .as("fp"))
      .orderBy(col("doc_id"))

  /** Per-document 3-grams (positional, row-local); operates on a
    * column literally named `t`. */
  private def grams3: Column =
    when(size(col("t")) >= 3, expr(
      """transform(sequence(1, size(t) - 2),
         i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ',
                     element_at(t, i + 2)))"""))
      .otherwise(expr("cast(array() as array<string>)"))

  /** Deterministic stratified sampling: per-language keep rates in
    * permille (en 100‰, others 500‰ — downsample the majority
    * stratum), membership decided by a rolling-hash bucket of the doc
    * id. At 100 TB this is a map-only predicate — no shuffle, no RNG
    * state, reproducible across reruns and engines; the aggregate
    * emitted here (per-stratum totals + an id checksum) is the audit
    * record a sampling job should ship with.
    *
    * The bucket hashes md5 hex THEN folds (like mr_pi's darts): a
    * rolling-hash fold of the short id string alone is measurably
    * non-uniform mod 1000 (0.94 observed at a 0.5 target). */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(graft.functions.RollingHash.rollingHash(
      md5(concat(lit("sample-"), col("doc_id").cast("string"))
        .cast("binary"))), lit(1000L))
    val rate = when(col("lang") === "en", 100L).otherwise(500L)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        (bucket < rate).cast("long").as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_sampled"),
        sum(col("doc_id") * col("keep")).as("sample_checksum"))
      .orderBy(col("lang"))
  }

  /** Intra-document repetition (the C4/RefinedWeb-style repetition
    * filter signal): how many of a doc's 3-grams are duplicates.
    * Row-local array ops — embarrassingly parallel, no shuffle. */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), grams3.as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("dup_bps",
        when(col("n_grams") > 0,
          expr("(10000 * (n_grams - n_distinct)) div n_grams"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))

  /** Benchmark phrases screened for in training data (the
    * decontamination step every LLM pipeline needs). Fixed here;
    * in production it is the broadcast side of the same plan. */
  private[graft] val EVAL_NGRAMS = Seq(
    "big order scan", "group slow spark", "small part order",
    "sort slow hash", "filter merge data")

  /** Contamination screen: per eval phrase, how many documents
    * contain it as a positional 3-gram and how many total
    * occurrences exist. The phrase set is broadcast (it is tiny);
    * the corpus side stays map-local until the final small
    * aggregation — the only shape that survives a 100 TB corpus. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val evalSet = EVAL_NGRAMS.toDF("eval_ngram")
    val hits = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(grams3).as("g"))
      .join(broadcast(evalSet), col("g") === col("eval_ngram"))
      .groupBy(col("eval_ngram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
    evalSet.join(hits, Seq("eval_ngram"), "left")
      .select(col("eval_ngram"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy(col("eval_ngram"))
  }

  /** The operators composed end to end — the actual shape of a
    * training-data preparation job: quality gate (map-only) →
    * survivorship dedup (one fp shuffle, longest doc wins) →
    * per-language corpus stats (one small agg). Three shuffles total
    * for the whole pipeline; every stage is one of the individually
    * oracled operators above. */
  def endToEnd(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .filter(col("n_tokens") >= 10)
      .withColumn("fp", md5(lower(trim(col("text"))).cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** Corpus-wide top bigrams. Bigrams are built positionally inside
    * the row (no shuffle until the count), then one aggregation. */
  def ngrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(toks(col("text")).as("t"))
      // guard: Spark's sequence(1, 0) counts DOWN, so a 1-token doc
      // would index element_at(t, 0) and error — gate on size >= 2
      .select(explode(when(size(col("t")) >= 2, expr(
        """transform(sequence(1, size(t) - 1),
           i -> concat(element_at(t, i), '_', element_at(t, i + 1)))"""))
        .otherwise(expr("cast(array() as array<string>)"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  /** Denylist scrub — the redaction step of a training-data pipeline
    * (same mechanics as PII removal: boundary-anchored regex match,
    * replace, account) run map-local per document. Emits the hit
    * count, before/after lengths, and the scrubbed fingerprint so the
    * oracle verifies the REPLACEMENT byte-for-byte, not just the
    * counts. \b word boundaries behave identically in Java regex and
    * RE2 on this ASCII vocabulary. */
  def scrub(s: SparkSession, d: String): DataFrame = {
    val pat = "\\b(spark|hash|key)\\b"
    // inside a Spark SQL string literal '\b' is a BACKSPACE escape, so
    // the expr() form needs the backslashes doubled
    val patSql = pat.replace("\\", "\\\\")
    Tables.documents(s, d)
      .withColumn("scrubbed",
        regexp_replace(col("text"), pat, "<REDACTED>"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$patSql', 0)"))
          .cast("long").as("n_hits"),
        length(col("text")).cast("long").as("len_before"),
        length(col("scrubbed")).cast("long").as("len_after"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_fp"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style quality-rule FILTER matrix (Rae et al. 2021,
    * arXiv:2112.11446 Table A1 — the rule family, parameterized for
    * this corpus): where [[quality]] publishes raw stats, this one
    * makes the keep/drop DECISION a curation pipeline acts on, with
    * one flag column per rule so the drop ACCOUNTING (which rule
    * fired, how often, per source) falls out of a group-by
    * downstream. Rules, all in exact integer arithmetic (`div`
    * semantics mirrored in the oracle): document length ≥ 20 tokens
    * (Gopher's 50-word floor scaled to this corpus's 10–100-token
    * docs), mean word length within [3, 10] chars ×100, ≥ 2 stopword
    * hits (Gopher's "2 of a fixed stop set" rule verbatim), and
    * distinct-token ratio ≥ 50% (the repetition family reduced to
    * token level — the corpus is single-line, so line-dup rules are
    * vacuous here). kept = every rule passes. Map-only, zero
    * shuffles. */
  // Gopher rule thresholds — shared by gopherFilter (the per-rule
  // matrix) and curationRows (the composed keep decision); one
  // definition so the standalone query and txt_pipeline_v2 can
  // never silently disagree on what "kept" means
  private val GopherMinTokens = 20
  private val GopherMwlLoX100 = 300
  private val GopherMwlHiX100 = 1000
  private val GopherMinStopHits = 2
  private val GopherMinDistinctX100 = 50

  def gopherFilter(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val stopHits = size(filter(t, w => w.isin(STOPWORDS: _*)))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        size(t).cast("long").as("n_tokens"),
        stopHits.cast("long").as("stop_hits"),
        size(array_distinct(t)).cast("long").as("n_distinct"))
      .withColumn("mwl_x100",
        expr("(100 * length(replace(trim(text), ' ', ''))) div n_tokens"))
      .withColumn("distinct_x100", expr("(100 * n_distinct) div n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("mwl_x100"), col("stop_hits"), col("distinct_x100"),
        (col("n_tokens") >= GopherMinTokens).cast("long").as("r_len"),
        (col("mwl_x100") >= GopherMwlLoX100 &&
          col("mwl_x100") <= GopherMwlHiX100).cast("long").as("r_mwl"),
        (col("stop_hits") >= GopherMinStopHits).cast("long").as("r_stop"),
        (col("distinct_x100") >= GopherMinDistinctX100)
          .cast("long").as("r_rep"))
      .withColumn("kept",
        (col("r_len") * col("r_mwl") * col("r_stop") * col("r_rep"))
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction — the removal pass a training-data pipeline runs
    * over every document before anything ships: e-mail addresses,
    * dotted-quad IPs, and NANP-style phone numbers detected with
    * boundary-anchored regexes, replaced with typed placeholders, and
    * accounted per document. The corpus text is a digit-free
    * synthetic vocabulary, so PII is PLANTED deterministically from
    * doc_id (the multimodal payload pattern): docs ≡ 0 (mod 3) gain a
    * contact e-mail, ≡ 0 (mod 4) an IPv4, ≡ 0 (mod 5) a phone — the
    * oracle rebuilds the identical augmented text with string
    * concatenation and mirrors every count and the redacted
    * fingerprint byte-for-byte. All three patterns avoid
    * lookaround/backrefs so Java regex and RE2 agree. Map-only: one
    * projection, zero shuffles at any scale. */
  // PII detection + planting, shared by piiScrub and curationRows —
  // one definition of each regex and of the doc_id-derived augmented
  // text, so the standalone query and txt_pipeline_v2's composed
  // pass redact exactly the same bytes
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\+1-555-\\d{4}"
  private def piiAugmented: Column = concat(col("text"),
    when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(""),
    when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
      (col("doc_id") % 256).cast("string"), lit("."),
      expr("cast((doc_id div 256) % 256 as string)"),
      lit("."), (col("doc_id") % 100).cast("string")))
      .otherwise(""),
    when(col("doc_id") % 5 === 0, concat(lit(" call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(""))
  private def piiCleaned(aug: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(aug,
      EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")
  private def piiHits(aug: Column, re: String): Column =
    size(regexp_extract_all(aug, lit(re), lit(0)))

  def piiScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("aug", piiAugmented)
      .withColumn("clean", piiCleaned(col("aug")))
      .select(col("doc_id"),
        piiHits(col("aug"), EmailRe).cast("long").as("n_emails"),
        piiHits(col("aug"), IpRe).cast("long").as("n_ips"),
        piiHits(col("aug"), PhoneRe).cast("long").as("n_phones"),
        length(col("clean")).cast("long").as("len_clean"),
        md5(col("clean").cast("binary")).as("clean_fp"))
      .orderBy(col("doc_id"))

  /** Corpus length profile — the histogram a training pipeline reads
    * before picking truncation/packing budgets: docs bucketed by
    * 64-token bands, with per-bucket doc and token totals (integer
    * `div` banding, map-local until one small aggregate). */
  def lengthProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("(n_tokens div 64) * 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("bucket"))

  /** Data-mixing audit per source — the mixture table every training
    * run publishes before sampling weights are chosen: per-source doc
    * and token counts, the token share in basis points, and the
    * within-source exact-duplicate rate (distinct fingerprints vs
    * docs). One source-keyed aggregate plus a single-row corpus total
    * broadcast back — source cardinality is catalog-scale, so the
    * whole output is tiny at any SF. */
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        countDistinct(col("fp")).as("n_distinct"))
    val total = perSource.agg(sum(col("total_tokens")).as("corpus_tokens"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("(10000 * total_tokens) div corpus_tokens").as("token_share_bps"),
        expr("(10000 * (n_docs - n_distinct)) div n_docs").as("dup_bps"))
      .orderBy(col("source"))
  }

  /** Deterministic train/val/test split audit — the assignment every
    * training pipeline fixes BEFORE packing: membership is a pure
    * hash of the document key (rolling-hash fold of
    * md5('split_'||doc_id) mod 1000: <950 train, <990 val, else
    * test), so any number of machines — or a rerun months later —
    * recomputes the same split with NO stored membership table, and
    * a document can never migrate between splits as the corpus grows
    * (assignment ignores everything but the key — the eval-leak
    * guarantee). Output is the audit published next to the data:
    * per-split docs, chars, basis-point share. Map-local hash, one
    * 3-key aggregate, a 1-row broadcast total — constant reduce
    * state at any corpus size. */
  def splitAudit(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .withColumn("bucket", graft.functions.RollingHash.rollingHash(
        md5(concat(lit("split_"), col("doc_id").cast("string"))
          .cast("binary"))) % 1000)
      .withColumn("split",
        when(col("bucket") < 950, "train")
          .when(col("bucket") < 990, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val total = per.agg(sum(col("n_docs")).as("total_docs"))
    per.crossJoin(broadcast(total))
      .select(col("split"), col("n_docs"), col("n_chars"),
        expr("(10000 * n_docs) div total_docs").as("share_bps"))
      .orderBy(col("split"))
  }

  /** Epoch-seeded deterministic data ordering — the reproducibility
    * primitive under multi-epoch training: epoch E's permutation is
    * BY CONSTRUCTION a pure function of (E, doc_id) — shard =
    * hash(E, key) mod S picks the output shard map-locally (the
    * [[splitAudit]] membership law: no stored table, no migration as
    * the corpus grows), and the within-shard order is (hash, doc_id)
    * ascending — so any number of writers, or a rerun months later,
    * reproduces the identical byte order, while distinct epochs get
    * statistically independent permutations. The audit emits per
    * (epoch, shard): docs, chars, the rank-1 doc and an
    * ORDER-SENSITIVE checksum Σ rank·doc_id that pins the whole
    * permutation, not just membership. Shuffle classes: one
    * shard-keyed exchange + per-shard sort (exactly the
    * sortWithinPartitions a shard writer pays — there is no global
    * sort), then an aggregate on the same partitioning. */
  def epochShuffle(s: SparkSession, d: String): DataFrame = {
    val shards = 8
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .crossJoin(s.range(1, 3).select(col("id").as("epoch")))
      .withColumn("h", graft.functions.RollingHash.rollingHash(
        md5(concat(lit("ep"), col("epoch").cast("string"), lit("_"),
          col("doc_id").cast("string")).cast("binary"))))
      .withColumn("shard", col("h") % shards)
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("rk") === 1L, col("doc_id")).otherwise(0L))
          .as("first_doc"),
        sum(col("rk") * col("doc_id")).as("order_check"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** Concat-and-chunk sequence packing — the sample-construction step
    * of LLM training: the corpus token stream (docs in doc_id order)
    * is cut into fixed 2048-token training sequences; docs straddle
    * boundaries. Per sequence: docs touching it, docs fully inside,
    * straddlers, tokens filled. The global token prefix sum runs as
    * the TWO-LEVEL distributed scan (per-bucket totals → bucket-scale
    * running offset → within-bucket window), the same pattern as
    * mm_shard_manifest — never a single-partition global window; the
    * boundary-range explode is row-local (a doc touches
    * ceil(n/B)+1 ≤ 2-3 sequences at B=2048). */
  def packSequences(s: SparkSession, d: String): DataFrame =
    packOn(Tables.documents(s, d)
      // real empty-doc guard: split('', '\s+') yields [''] (size 1),
      // so a token-count filter can never fire — exclude on the text
      // itself (mirrored in the oracle) so empty/whitespace-only docs
      // contribute no phantom token to the stream.
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tok")))

  /** The packing core over any (doc_id, n_tok) frame — shared by the
    * whitespace-token form above and the BPE-subword form below. */
  private def packOn(sized0: DataFrame): DataFrame = {
    val B = 2048L
    import org.apache.spark.sql.expressions.Window
    val sized = sized0
      .withColumn("bucket", expr("doc_id div 1000"))
    val offsets = sized.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    sized.join(offsets, "bucket")
      .withColumn("cum", col("off") + sum(col("n_tok")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("start", col("cum") - col("n_tok"))
      .withColumn("seq_lo", expr(s"start div $B"))
      .withColumn("seq_hi", expr(s"(cum - 1) div $B"))
      .select(col("n_tok"), col("start"), col("cum"),
        col("seq_lo"), col("seq_hi"),
        explode(expr("sequence(seq_lo, seq_hi)")).as("seq_id"))
      .withColumn("filled",
        least(col("cum"), (col("seq_id") + 1) * B) -
          greatest(col("start"), col("seq_id") * B))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("seq_lo") === col("seq_hi"), 1L).otherwise(0L))
          .as("n_full_docs"),
        sum(when(col("seq_lo") =!= col("seq_hi"), 1L).otherwise(0L))
          .as("n_straddlers"),
        sum(col("filled")).as("tokens_filled"))
      .orderBy(col("seq_id"))
  }

  /** Count-min-sketch geometry: d=4 hash rows x w=2048 counters — a
    * 64 KB sketch regardless of corpus size. */
  private val CmsD = 4
  private val CmsW = 2048

  /** CMS hash row j for a token: md5-then-fold (independent per salt,
    * DuckDB-expressible) reduced mod w. */
  private def cmsPos(word: Column, j: Int): Column =
    graft.functions.RollingHash.rollingHash(
      md5(concat(lit(s"cms$j-"), word).cast("binary"))) % CmsW

  /** Top-10 heavy hitters via a count-min sketch. The sketch build is
    * the production path at 100 TB: one groupBy over (row, bucket)
    * with map-side partials collapses an arbitrarily large token
    * stream into d*w = 8192 counters — the fixed-size summary the
    * reference computed with counters/combiners. Because the sketch
    * is CONSTANT-size, broadcasting it for the estimate join is
    * legitimate at any SF (contrast q17/q18, where the broadcast side
    * grew with the data). The query also carries each token's exact
    * count so the CMS overestimate invariant (est >= exact, bounded
    * by stream/w) is visible and spec-testable; integer-only output
    * keeps the oracle hash-exact. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val w = words(Tables.documents(s, d))
    estimateTopK(w, cmsSketch(w))
  }

  /** The corpus token stream (non-empty whitespace tokens). */
  private[graft] def words(docs: DataFrame): DataFrame =
    docs.select(explode(toks(col("text"))).as("word"))
      .filter(length(col("word")) > 0)

  /** A word's d sketch cells as an array of (j, b) structs. */
  private[graft] def cmsPositions(c: Column): Column =
    array((0 until CmsD).map(j =>
      struct(lit(j).as("j"), cmsPos(c, j).as("b"))): _*)

  /** The CMS counter table from a word stream: one groupBy over at
    * most d*w = 8192 (j, b) cells — works identically as a batch
    * aggregation and as a streaming aggregation whose state IS the
    * constant-size counter table (DocumentStreams.cmsCells). */
  private[graft] def cmsSketch(w: DataFrame): DataFrame =
    w.select(explode(cmsPositions(col("word"))).as("p"))
      .groupBy(col("p.j").as("j"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Top-10 estimate join: each candidate word reads its d cells from
    * the (constant-size, legitimately broadcast) sketch and takes the
    * min — the CMS point estimate. Exact counts ride along so the
    * overestimate invariant stays visible. */
  private[graft] def estimateTopK(w: DataFrame, sketch: DataFrame): DataFrame =
    w.groupBy(col("word"))
      .agg(count(lit(1)).as("exact"))
      .select(col("word"), col("exact"),
        explode(cmsPositions(col("word"))).as("p"))
      .join(broadcast(sketch),
        col("p.j") === col("j") && col("p.b") === col("b"))
      .groupBy(col("word"), col("exact"))
      .agg(min(col("c")).as("est"))
      .select(col("word"), col("est"), col("exact"))
      .orderBy(col("est").desc, col("word"))
      .limit(10)

  // ---- BPE tokenizer (Sennrich, Neubig & Birch 2016 — the public
  // byte-pair-encoding algorithm): learn subword merges from the
  // corpus, apply them as codegen string expressions. --------------

  /** Training vocabulary is CORPUS-BUDGETED, not a toy constant: the
    * distributed word-count aggregate keeps every word seen at least
    * [[BpeMinFreq]] times (hapaxes carry no pair statistics worth a
    * vocab slot — the standard min_frequency knob), capped at
    * [[BpeVocabCap]] rows by (freq desc, word asc) — the q36 row-
    * budget pattern. Only that bounded table leaves the aggregate, so
    * driver/exchange state is constant at any corpus size; on this
    * synthetic corpus the budget resolves to all 31 distinct words,
    * on a 100 TB web corpus to the 4096 most frequent. */
  val BpeVocabCap = 4096
  /** Vocabulary frequency floor (min_frequency in every public BPE
    * trainer). */
  val BpeMinFreq = 2L
  /** Merge BUDGET (the model-size knob, like any tokenizer's
    * vocab_size): training runs until the budget is spent or the
    * vocab is fully merged (dry), whichever comes first. On a closed
    * 31-word vocab the trainer dries at Σ(len−1) = 107 merges —
    * run-to-dry under a production-scale budget, not a toy cap. */
  val BpeMergeBudget = 1024

  /** One BPE merge-application pass, greedy left-to-right (the
    * Sennrich fold): adjacent (a, b) collapses into a+b. */
  private def applyMerge(toks: List[String], a: String,
      b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    toks.foreach { t =>
      if (out.nonEmpty && out.last == a && t == b) out(out.size - 1) = a + b
      else out += t
    }
    out.toList
  }

  /** Session-scope memo of trained merge tables per data dir: the
    * three BPE queries (model / tokens / pack) share one training
    * run, the way a pipeline trains once and ships the merge file. */
  private val trainedMerges =
    new scala.collection.concurrent.TrieMap[String, Seq[(String, String, Long)]]

  private[graft] def bpeMerges(s: SparkSession,
      d: String): Seq[(String, String, Long)] =
    trainedMerges.getOrElseUpdate(d, trainMerges(s, d))

  /** One round's pair-count argmax, computed DRIVER-SIDE over the
    * weighted vocab fold. This is the honest plan at this state size:
    * the vocab is ≤ [[BpeVocabCap]] (4096) rows BY CONSTRUCTION (it
    * is the output of `limit(cap)` in [[trainMerges]]), so per-round
    * pair statistics are a constant-size fold over plan-constant
    * state — the ml_kmeans centroid-update shape, not a data-scale
    * aggregate. Corpus-scale work (the word count that WEIGHTS the
    * vocab) remains the one distributed aggregate in [[trainMerges]];
    * training then runs in ONE Spark job total instead of one job per
    * merge round (the round-9 distributed form spent ~0.13 s of
    * scheduler latency per round on microseconds of counting — 89
    * rounds ≈ 11 s of pure job-launch overhead at ANY corpus size).
    * Ties break (count desc, lhs asc, rhs asc) — identical to the
    * distributed form and mirrored exactly by the oracle CTE, so the
    * merge ORDER (and every downstream hash) is unchanged. */
  private def bestPair(
      vocab: Seq[(List[String], Long)]): Option[(String, String, Long)] = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
    vocab.foreach { case (w, f) =>
      if (w.lengthCompare(2) >= 0)
        w.iterator.zip(w.iterator.drop(1)).foreach { p =>
          counts.update(p, counts.getOrElse(p, 0L) + f)
        }
    }
    if (counts.isEmpty) None
    else {
      val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
      Some((a, b, c))
    }
  }

  /** Train the merge table: ONE distributed word-count aggregate
    * builds the capped weighted vocab, then up to [[BpeMergeBudget]]
    * driver-local rounds of (adjacent-pair count over the ≤4096-row
    * vocab) -> (merge the most frequent pair, ties broken
    * lexicographically — fully deterministic, so DuckDB's
    * recursive-CTE twin reproduces the identical merge ORDER),
    * stopping early when the vocab is fully merged. Uncached —
    * production entry is [[bpeMerges]]. */
  private[graft] def trainMerges(s: SparkSession,
      d: String): Seq[(String, String, Long)] = {
    val topv = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= BpeMinFreq)
      .orderBy(col("f").desc, col("word"))
      .limit(BpeVocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var vocab = topv.map { case (w, f) => (w.map(_.toString).toList, f) }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var dry = false
    while (merges.size < BpeMergeBudget && !dry) {
      bestPair(vocab) match {
        case None => dry = true
        case Some((a, b, c)) =>
          merges += ((a, b, c))
          vocab = vocab.map { case (w, f) => (applyMerge(w, a, b), f) }
      }
    }
    merges.toSeq
  }

  /** txt_bpe — the learned merge table itself (rank, lhs, rhs,
    * merged, pair_count): the MODEL a tokenization pipeline ships,
    * hash-matched against DuckDB re-running the identical training
    * from the same corpus. */
  def bpe(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    bpeMerges(s, d).zipWithIndex.map { case ((a, b, c), i) =>
      ((i + 1).toLong, a, b, a + b, c)
    }.toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** txt_bpe_tokens — APPLY the learned merges to every document and
    * count subwords. The whole merge table is ONE codegen
    * [[graft.functions.BpeEncode]] expression (the table rides along
    * as a plan reference object, the broadcast pattern for
    * plan-constant state), so the plan keeps a single projection at
    * ANY merge count — no K-chained `replace` growing the generated
    * method toward the JVM size cliff — and stays map-only until the
    * per-doc sum, with a bounded per-executor word→count memo doing
    * what every real tokenizer's encode cache does. Only ^[a-z]+$
    * words count (the trainer's domain); docs with none drop out on
    * both sides. */
  def bpeTokens(s: SparkSession, d: String): DataFrame =
    bpeTokenCounts(s, d).orderBy(col("doc_id"))

  /** Per-doc BPE subword counts, unordered — the composable form. */
  private def bpeTokenCounts(s: SparkSession, d: String): DataFrame =
    bpeTokenCountsWith(s, d,
      bpeMerges(s, d).map { case (a, b, _) => (a, b) })

  /** The application plan for an ARBITRARY merge table — split out so
    * the plan-shape spec can pin that the projection count does not
    * depend on K. */
  private[graft] def bpeTokenCountsWith(s: SparkSession, d: String,
      merges: Seq[(String, String)]): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .select(col("doc_id"),
        graft.functions.BpeEncode.bpeEncode(col("word"), merges)
          .as("ntok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ntok")).as("n_subwords"))

  /** Tokenizer-quality audit over the TRAINED merge table — the
    * evaluation a pipeline publishes before committing a tokenizer:
    * per language, word volume, subword volume, FERTILITY (subwords
    * per 100 words, integer percent — the compression the vocabulary
    * actually buys on each language's distribution) and the unmerged
    * share (words the merge table leaves fully character-split — the
    * byte-fallback analog that flags a vocabulary trained on the
    * wrong mix). Same plan family as [[bpeTokens]]: the merge table
    * is a plan constant inside the ONE codegen encode expression,
    * so the whole audit is a map-local pass + a |langs|-key
    * aggregate — constant reduce state at any corpus size. */
  def bpeCoverage(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d).map { case (a, b, _) => (a, b) }
    Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .withColumn("ntok",
        graft.functions.BpeEncode.bpeEncode(col("word"), merges))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("ntok")).as("n_subwords"),
        sum(when(col("ntok") === length(col("word")).cast("long"), 1L)
          .otherwise(0L)).as("n_unmerged"))
      .withColumn("fertility_pct", expr("(100 * n_subwords) div n_words"))
      .orderBy(col("lang"))
  }

  /** txt_pack_bpe — [[packSequences]] fed with REAL subword counts:
    * the 2048-token training sequences are budgeted in the learned
    * BPE vocabulary's tokens (what the trained model actually
    * consumes), not whitespace words — the packing a production
    * pretraining pipeline runs after tokenizer training. Same
    * two-level distributed prefix sum; only the per-doc size column
    * changes (docs with no in-domain words contribute nothing on
    * both sides). */
  def packBpe(s: SparkSession, d: String): DataFrame =
    packOn(bpeTokenCounts(s, d)
      .select(col("doc_id"), col("n_subwords").as("n_tok")))

  /** txt_lm_score — character-bigram language-model quality scoring
    * (the CCNet-style "how typical is this text of the corpus"
    * filter, public Wenzek et al. 2020 design). TRAIN: corpus-wide
    * bigram counts over [a-z ]-normalized text — the model is ≤27²
    * rows of CONSTANT state, like ml_kmeans' centroids. SCORE: each
    * doc's mean bigram probability in exact integer micro-units —
    * p_micro(xy) = 10⁶·c(xy) div c(x·) — with the constant model
    * folded back in as a LITERAL map and the per-doc sum computed by
    * one higher-order fold over the doc's own characters (r12: this
    * replaced a re-explode + broadcast join + doc-keyed shuffle with
    * a purely map-side pass — the corpus is touched twice total:
    * once to train, once to score). Long sums are associative and
    * the fold order is the document's own character order, so the
    * score can never flip on shuffle order (a log-prob double sum
    * would). At 100 TB the model build is one tiny aggregate and
    * scoring is embarrassingly parallel. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z]+", " "))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), norm.as("t"))
      .filter(length(col("t")) >= 2)
    // Bigrams as dense 27×27 indices (alphabet is [a-z ] after
    // normalization): one split into chars — NOT per-position
    // substring, which re-scans the string each call — then adjacent
    // code pairs. Shared by the train and score passes.
    val codes = transform(split(col("t"), ""), c =>
      when(c === " ", lit(26)).otherwise(ascii(c) - 97))
    val n = (length(col("t")) - 1).cast("int")
    def pairIdx(arr: org.apache.spark.sql.Column) =
      zip_with(slice(arr, lit(1), n), slice(arr, lit(2), n),
        (a, b) => (a * 27 + b).cast("int"))
    // TRAIN: one explode pass collapsing to the ≤27² bigram model
    val counts = docs.select(explode(pairIdx(codes)).as("idx"))
      .groupBy(col("idx")).agg(count(lit(1)).as("c2"))
    val prefix = counts
      .groupBy(expr("idx div 27").as("pre"))
      .agg(sum(col("c2")).as("c1"))
    val model = counts
      .withColumn("pre", expr("idx div 27"))
      .join(prefix, "pre")
      .select(col("idx"), expr("(1000000 * c2) div c1").as("p_micro"))
      .collect() // ≤ 27² rows — constant model state, the kmeans-
                 // centroid pattern: fold it back in as a literal
    // element_at on an array literal is O(1), where a map literal
    // would linear-scan its 729 entries per bigram. Slots for
    // bigrams absent from the corpus are never read — every bigram
    // being scored was trained from this corpus.
    val slots = Array.fill(27 * 27)(0L)
    model.foreach(r => slots(r.getInt(0)) = r.getLong(1))
    val arrLit = array(slots.toIndexedSeq.map(lit(_)): _*)
    // SCORE: map-only — no second explode, no join, no doc-keyed
    // shuffle; the fold runs in the document's own character order
    val sm = aggregate(
      transform(pairIdx(codes), i => element_at(arrLit, i + 1)),
      lit(0L), (acc, x) => acc + x)
    docs.select(col("doc_id"),
      (length(col("t")) - 1).cast("long").as("n_bigrams"), sm.as("sm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sm div n_bigrams").as("score_micro"))
      .orderBy(col("doc_id"))
  }

  /** txt_pipeline_v2 — the round-11 curation ops COMPOSED the way a
    * production pass actually runs them: [[gopherFilter]] decides
    * keep/drop, [[piiScrub]] cleans what survives, and the per-source
    * shipping audit rolls up kept counts, PII hit totals, cleaned
    * byte volume, and an order-independent content checksum (the
    * per-doc cleaned fingerprint folded to a long and SUMMED — sums
    * commute, so shuffle order can't perturb it, and any single
    * changed byte in any cleaned doc changes the total). Shuffle
    * classes: the two map-only passes + one doc_id join + one
    * source-keyed aggregate. */
  def pipelineV2(s: SparkSession, d: String): DataFrame =
    curationRows(Tables.documents(s, d))
      .filter(col("kept") === 1L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("pii_hits")).as("n_pii_hits"),
        sum(col("len_clean")).as("clean_len_sum"),
        sum(graft.functions.RollingHash.rollingHash(col("clean_fp")))
          .as("clean_fp_fold_sum"))
      .orderBy(col("source"))

  /** The per-document curation row — [[gopherFilter]]'s verdict and
    * [[piiScrub]]'s cleaned output computed in ONE projection (both
    * stages are row-local, so composing them needs no join; the
    * batch rollup and the streaming ingest share exactly this).
    * Works on any (doc_id, text, source) frame, batch or stream. */
  private[graft] def curationRows(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val stopHits = size(filter(t, w => w.isin(STOPWORDS: _*)))
    docs
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("stop_hits", stopHits.cast("long"))
      .withColumn("n_distinct", size(array_distinct(t)).cast("long"))
      .withColumn("mwl_x100",
        expr("(100 * length(replace(trim(text), ' ', ''))) div n_tokens"))
      .withColumn("distinct_x100", expr("(100 * n_distinct) div n_tokens"))
      .withColumn("kept",
        (col("n_tokens") >= GopherMinTokens &&
          col("mwl_x100").between(GopherMwlLoX100, GopherMwlHiX100) &&
          col("stop_hits") >= GopherMinStopHits &&
          col("distinct_x100") >= GopherMinDistinctX100)
          .cast("long"))
      .withColumn("aug", piiAugmented)
      .withColumn("clean", piiCleaned(col("aug")))
      .withColumn("pii_hits",
        (piiHits(col("aug"), EmailRe) + piiHits(col("aug"), IpRe) +
          piiHits(col("aug"), PhoneRe)).cast("long"))
      .select(col("doc_id"), col("source"), col("kept"), col("pii_hits"),
        length(col("clean")).cast("long").as("len_clean"),
        md5(col("clean").cast("binary")).as("clean_fp"))
  }

  /** txt_mix_sample — EXECUTE a target data mixture (the step after
    * [[sourceMix]]'s audit): given per-source target weights, find
    * the largest feasible corpus (T = min over sources of
    * n_s·W ÷ w_s — the scarcest source binds the whole mixture,
    * exactly how production mixtures are solved), derive each
    * source's admission rate in basis points, and admit documents by
    * the deterministic md5-fold coin the repo's samplers share —
    * reproducible run-to-run, unlike sample()'s partition-seeded RNG.
    * Weights here are source-index-proportional (w = idx+1, a
    * deliberately skewed target so every rate differs). Scale shape:
    * one catalog-scale source count, the tiny rate table broadcast
    * back, then a map-only coin flip per doc and one source-keyed
    * aggregate. Emits the per-source audit (n_docs, rate_bps,
    * n_admitted, admitted_id_sum). */
  def mixSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        (expr("cast(substring(source, 4) as bigint)") + 1L).as("w"))
    val bySource = docs.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_docs"))
    val wTotal = bySource.agg(sum(col("w")).as("w_sum"))
    val feasible = bySource.crossJoin(broadcast(wTotal))
      .select(expr("(n_docs * w_sum) div w").as("t"))
      .agg(min(col("t")).as("t_max"))
    val rates = bySource.crossJoin(broadcast(wTotal))
      .crossJoin(broadcast(feasible))
      .select(col("source"), col("n_docs"),
        least(lit(10000L),
          expr("(10000 * w * t_max) div (w_sum * n_docs)")).as("rate_bps"))
    val coin = pmod(graft.functions.RollingHash.rollingHash(
      md5(concat(lit("mix-"), col("doc_id").cast("string"))
        .cast("binary"))), lit(10000L))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("admit", (coin < col("rate_bps")).cast("long"))
      .groupBy(col("source"), col("n_docs"), col("rate_bps"))
      .agg(sum(col("admit")).as("n_admitted"),
        sum(col("admit") * col("doc_id")).as("admitted_id_sum"))
      .orderBy(col("source"))
  }

  /** txt_lm_buckets — the SPLIT step CCNet runs right after
    * [[lmScore]] (Wenzek et al. 2020 §4.3): per LANGUAGE, rank
    * documents by LM quality and cut the corpus into head / middle /
    * tail terciles — head feeds training, tail gets dropped or
    * down-weighted. Deterministic ntile(3) over (score desc, doc_id)
    * inside each language partition; ntile's uneven-remainder rule is
    * identical in Spark and DuckDB, so the assignment hash-matches.
    * Scale: one shuffle on lang + a within-language sort (the q31
    * exact-quantile posture — languages sort in parallel; a skewed
    * language goes through q36's row-budgeted sampled boundaries,
    * and production CCNet freezes the two cutoff scores as constants
    * after one calibration run, making steady-state scoring map-only). */
  def lmBuckets(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    lmScore(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("score_micro"), col("bucket"),
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === 2L, "middle")
          .otherwise("tail").as("bucket_name"))
      .orderBy(col("doc_id"))
  }

  /** txt_lm_buckets_sampled — [[lmBuckets]]'s 100-TB form: the q36
    * row-budgeted escape hatch applied to the per-language tercile
    * split. The exact form sorts each language's whole corpus inside
    * one window task per language (~5 languages ⇒ lang-share ×
    * corpus per task, the low-cardinality-window straggler); here
    * the head/middle/tail CUTOFF SCORES come from a deterministic
    * hash sample capped at Relational.Q36SampleBudget rows — the
    * modulus grows with the corpus, so the sampled boundary sort is
    * constant-bounded at any scale — and full-corpus assignment is a
    * broadcast of ≤ 2 boundary scores per language plus a map-side
    * comparison. No corpus-scale window anywhere: this is CCNet's
    * production posture (calibrate cutoffs once on a sample, then
    * score+assign map-only; Wenzek et al. 2020 §4.3), with
    * [[lmBuckets]] kept as its q31-style exact validation twin.
    * Emits the per-(lang, bucket) audit — doc count, score range,
    * and the summed doc_id membership fold that pins the exact
    * assignment set. */
  def lmBucketsSampled(s: SparkSession, d: String): DataFrame = {
    // Materialize the scored corpus ONCE: three consumers follow —
    // the corpus count fixing the sample modulus, the boundary sample
    // and the final assignment spine. Re-running the map-only scoring
    // per consumer instead lost (sf0.01, local[4], median of 7 JVM
    // pairs: 1.02 s checkpointed, 1.13 s shared, 2/7 wins). The
    // returned plan reads it, so Spark's ContextCleaner frees it with
    // the frame.
    val scored = lmScore(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("score_micro"))
      .localCheckpoint()
    // catalog-scale scalar: corpus size, to fix the sample modulus
    val m = Relational.q36Modulus(scored.count())
    val samp = scored.filter(
      graft.functions.RollingHash.rollingHash(
        md5(concat(lit("lmb-"), col("doc_id").cast("string"))
          .cast("binary"))) % m === 0)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    val bounds = samp
      .withColumn("tile", ntile(3).over(w))
      .filter(col("tile") < 3)
      .groupBy(col("lang"), col("tile"))
      .agg(min(col("score_micro")).as("b"))
      .groupBy(col("lang"))
      .agg(collect_list(col("b")).as("bs")) // ≤ 2 cutoffs per language
    scored.join(broadcast(bounds), Seq("lang"), "left")
      .withColumn("bucket", coalesce(expr(
        "1 + aggregate(bs, 0L, (acc, b) ->" +
          " acc + IF(score_micro < b, 1L, 0L))"), lit(1L)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score_micro")).as("min_micro"),
        max(col("score_micro")).as("max_micro"),
        sum(col("doc_id")).as("id_sum"))
      .select(col("lang"), col("bucket"),
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === 2L, "middle")
          .otherwise("tail").as("bucket_name"),
        col("n_docs"), col("min_micro"), col("max_micro"), col("id_sum"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Supervised QUALITY-CLASSIFIER training — the fastText-style
    * linear filter every LLM data pipeline trains on weak labels
    * (keep/drop from cheap heuristics, then generalize). Features:
    * 64-bucket hashed bag-of-words counts (rolling-hash mod K — the
    * hashing trick, feature space constant no matter the vocabulary).
    * Weak label: +1 when the doc LOOKS like natural prose by pure
    * integer tests (20 ≤ tokens ≤ 400 and total chars ≤ 8·tokens),
    * −1 otherwise. Training: 5 epochs of the BATCH PERCEPTRON in
    * exact integer arithmetic — margin mᵈ = Σ w·x, misclassified iff
    * y·mᵈ ≤ 0, w += Σ_misclassified y·x — no learning-rate float, no
    * exp(), so the whole training run is bit-reproducible and the
    * DuckDB oracle REPLAYS it epoch by epoch (the txt_bpe /
    * mr_pagerank frozen-unroll discipline applied to supervised
    * learning).
    *
    * Scale shape: the model is K=64 longs of DRIVER state (the
    * ml_kmeans centroid pattern) folded back in as a literal array —
    * broadcast-free constant plan state; each epoch is ONE pass over
    * the checkpointed (doc, bucket, x, y) features (doc-keyed margin
    * aggregate + bucket-keyed update aggregate, both map-side
    * combined); features materialize once. Output: the learned
    * per-bucket weights plus the final epoch's error count — the
    * model card, not the corpus. */
  def perceptronQuality(s: SparkSession, d: String): DataFrame = {
    val K = 64
    val epochs = 5
    val sp = s
    import sp.implicits._
    // r21: DOC-MAJOR feature layout — one row per doc carrying its
    // sparse (bucket, x) vector, so each epoch's margin is a
    // map-only fold against the literal weight array and the update
    // is ONE bucket-keyed aggregate over the misclassified rows. The
    // r18 shape kept features bucket-major and re-JOINED the margin
    // verdict back onto them every epoch (one extra doc-keyed
    // exchange + join per epoch, ×5). Same integer arithmetic in the
    // same terms (long sums are order-free, so the collect_list
    // order cannot perturb a margin), so the trained weights and
    // error count hash-match the oracle's epoch replay unchanged.
    val feats = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        expr("aggregate(t, 0L, (a, w) -> a + length(w))").as("n_chars"),
        explode(col("t")).as("word"))
      .select(col("doc_id"),
        when(col("n_tokens").between(20, 400) &&
          col("n_chars") <= col("n_tokens") * 8, 1L).otherwise(-1L).as("y"),
        (graft.functions.RollingHash.rollingHash(col("word")) % K)
          .as("bucket"))
      .groupBy(col("doc_id"), col("y"), col("bucket"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("doc_id"), col("y"))
      .agg(collect_list(struct(col("bucket"), col("x"))).as("bx"))
      .localCheckpoint() // one materialization feeds every epoch
    try {
    var w = Array.fill(K)(0L)
    var lastErrors = 0L
    for (_ <- 1 to epochs) {
      val arr = array(w.toIndexedSeq.map(lit(_)): _*)
      // the epoch's error count rides the SAME job as the update
      // aggregate (the counters pattern, cf. pageRankConverged):
      // one action per epoch, not a separate count() pass
      val obs = new org.apache.spark.sql.Observation()
      val mis = feats
        .withColumn("m", aggregate(col("bx"), lit(0L), (a, s) =>
          a + element_at(arr, (s.getField("bucket") + 1).cast("int")) *
            s.getField("x")))
        .filter(col("y") * col("m") <= 0)
        .observe(obs, count(lit(1)).as("n_err"))
      val upd = mis
        .select(col("y"), explode(col("bx")).as("b"))
        .groupBy(col("b.bucket").as("bucket"))
        .agg(sum(col("y") * col("b.x")).as("dw"))
        .collect() // ≤ K rows — constant model state, driver-scale
      lastErrors = obs.get("n_err").asInstanceOf[Long]
      upd.foreach { r =>
        w(r.getLong(0).toInt) += r.getLong(1)
      }
    }
    w.toIndexedSeq.zipWithIndex.map { case (wt, b) =>
      (b.toLong, wt, lastErrors)
    }.toDF("bucket", "weight", "final_errors")
      .orderBy(col("bucket"))
    // r22: the features' last consumer is the final epoch's update
    // collect — release the doc-scale blocks before returning (the
    // result is driver-local model state)
    } finally org.apache.spark.sql.graftshim.Shim.releaseCheckpoint(feats)
  }
}
