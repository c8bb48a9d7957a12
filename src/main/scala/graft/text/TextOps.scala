package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Per-row text analysis operators for large-scale training-data
  * pipelines: tokenization, shingling, quality stats, language ID,
  * BPE-ish token counting, winnowing fingerprints.
  *
  * All of these are pure per-row expressions — no shuffle, fully
  * codegen-eligible, embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** Lowercase word tokens: maximal [a-z0-9] runs after lowercasing —
    * identical to splitting on runs of non-alphanumerics and dropping
    * empties (the definition the DuckDB oracle mirrors; the class is
    * one Java regex and RE2 implement identically). Native one-pass
    * expression (graft.functions.TokenizeWords) — the filter(split(..))
    * HOF form carries an interpreted lambda that also disqualifies
    * every downstream projection from WholeStageCodegen.
    */
  def tokens(text: Column): Column =
    graft.functions.HashExprs.tokenizeWords(text)

  /** k-word shingles (space-joined) of the token array; empty if fewer
    * than k tokens. Sequence-sensitive representation for near-dup
    * detection (word sets saturate on small vocabularies). Native
    * one-pass expression — see graft.functions.ShingleStrings for why
    * the transform/element_at lambda form is quadratic.
    */
  def shingles(toks: Column, k: Int): Column =
    graft.functions.HashExprs.shingleStrings(toks, k)

  /** Small public stopword lists per language for the heuristic
    * language identifier. Scoring uses DISTINCT-token intersection so
    * the same logic is expressible in the DuckDB oracle.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "im", "auf"),
    "en" -> Seq("the", "a", "an", "and", "is", "not", "with", "of", "to", "in", "on", "for", "it", "this"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "no", "con", "un", "una", "de", "en", "por", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "avec", "un", "une", "de", "en", "sur", "que", "pour"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "you", "wo", "ta", "men", "zhe", "na", "ge", "he", "ye"))

  /** Heuristic language ID: argmax of per-language stopword hits over
    * distinct tokens; 'und' (undetermined) when every score is 0; ties
    * break to the alphabetically-first language code. Native one-pass
    * expression (graft.functions.LangScore); `stopwords` is sorted by
    * language code, which realizes the tie-break.
    */
  def langId(text: Column): Column =
    graft.functions.HashExprs.langScore(tokens(text), stopwords)

  /** Cavnar-Trenkle character trigram features (Cavnar & Trenkle '94
    * — the classic language-ID representation): per word, the padded
    * '_w_' form's sliding 3-grams (len(w) of them), flattened across
    * the document. Boundary padding keeps prefix/suffix morphology
    * ('sch…', '…ung', '…cion') as distinct features — the signal a
    * stopword heuristic has none of. Pure narrow expressions; the
    * DuckDB twin mirrors substr('_'||w||'_', i, 3) exactly.
    */
  def charTrigrams(text: Column): Column =
    F.flatten(F.transform(tokens(text), w =>
      F.transform(F.sequence(F.lit(1), F.length(w)), i =>
        F.concat(F.lit("_"), w, F.lit("_")).substr(i, F.lit(3)))))

  /** BPE-ish token count: alpha runs, digit runs, and single
    * non-alphanumeric-non-space characters each count as one token.
    */
  def bpeTokenCount(text: Column): Column =
    F.regexp_count(F.lower(text), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Quality stats struct: counts are exact ints; ratios are
    * single-division doubles (cross-engine deterministic).
    */
  def qualityStats(text: Column, stopLang: Seq[String]): Seq[(String, Column)] =
    qualityStatsFrom(text, tokens(text), stopLang)

  /** qualityStats over a pre-tokenized column — pass an ATTRIBUTE
    * (kept by a prior select) so the tokenize chain runs once per row
    * instead of once per stat that references it.
    */
  def qualityStatsFrom(text: Column, toks: Column,
                       stopLang: Seq[String]): Seq[(String, Column)] = {
    import graft.functions.HashExprs.{stopwordCount, sumTokenChars}
    val nChars = F.length(text)
    val nToks = F.size(toks)
    val punct = F.regexp_count(text, F.lit("[^a-zA-Z0-9 ]"))
    val upper = F.regexp_count(text, F.lit("[A-Z]"))
    // native one-pass counters: the filter/aggregate lambda forms are
    // interpreted HOFs and would drop the projection out of codegen
    val stops = stopwordCount(toks, stopLang)
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nToks.cast("long"),
      "n_punct" -> punct.cast("long"),
      "n_upper" -> upper.cast("long"),
      "n_stopwords" -> stops,
      "punct_ratio" -> F.when(nChars > 0,
        punct.cast("double") / nChars.cast("double")).otherwise(F.lit(0.0)),
      "stopword_ratio" -> F.when(nToks > 0, stops.cast("double") / nToks.cast("double")).otherwise(F.lit(0.0)),
      "avg_token_len" -> F.when(nToks > 0,
        sumTokenChars(toks).cast("double") / nToks.cast("double"))
        .otherwise(F.lit(0.0)))
  }

  /** Scrub obvious PII-ish spans for training-data hygiene: emails and
    * URLs are masked with typed placeholders. Regexes stay within the
    * character-class subset that Java regex and RE2/DuckDB implement
    * identically (SURVEY §5).
    */
  def scrub(text: Column): Column = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
    val url = "https?://[^ ]+"
    F.regexp_replace(F.regexp_replace(text, email, "<EMAIL>"), url, "<URL>")
  }

  /** Full PII masking pass: [[scrub]]'s email/URL rules plus NANP-ish
    * phone numbers (ddd-ddd-dddd with -/./space separators) and
    * dotted-quad IPv4 literals — the redaction breadth a training
    * corpus gets before release. The four patterns match disjoint
    * shapes, but the application order (email, url, ip, phone) is
    * still pinned so the output is deterministic and the DuckDB twin
    * can replay the exact same chain; all patterns are RE2-safe.
    */
  def scrubPii(text: Column): Column = {
    val phone = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    F.regexp_replace(F.regexp_replace(scrub(text), ip, "<IP>"),
      phone, "<PHONE>")
  }

  /** Repetition signal (Gopher-style quality heuristic): the most
    * frequent token's share of all tokens. High values flag boilerplate
    * / degenerate repetition. 0.0 for empty docs, null arrays coalesce
    * to 0.0. Native one-pass mode count
    * (graft.functions.TopTokenShare) — the transform(array_distinct,
    * ...) HOF form is O(distinct x tokens) interpreted work per row.
    */
  def topTokenShare(toks: Column): Column =
    F.coalesce(graft.functions.HashExprs.topTokenShare(toks), F.lit(0.0))

  /** Per-document TF-IDF keyword extraction: each document's top-k
    * terms by tf·idf, the classic unsupervised summarizer (Salton &
    * Buckley '88; the keyword column a curation pipeline feeds to
    * topic mixing or index enrichment).
    *
    *   idf(t) = ln((N + 1) / (df(t) + 1))  (smoothed — never 0/0)
    *   score(d, t) = tf(d, t) · idf(t), rounded to 9dp
    *
    * Rounding BEFORE the rank window makes the ordering itself
    * cross-engine reproducible (ties then break on ascending term).
    *
    * Scale: one tokenize+explode pass → groupBy (doc, term) for tf;
    * df is a term-keyed rollup of that SAME aggregate (no second
    * corpus scan); the one-row corpus count broadcasts; the top-k
    * window partitions by document (WindowGroupLimit bounds it
    * map-side). Nothing is ever corpus × corpus.
    */
  def keywords(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(F.col(idCol).as("doc_id"),
        F.explode(tokens(F.col(textCol))).as("term"))
    // persisted: the tf aggregate feeds BOTH the per-doc scores and
    // the term-keyed df rollup — without the pin the tokenize+explode
    // corpus scan runs twice
    val tf = graft.operators.Pins.persist(
      tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val nDocs = df.agg(F.count(F.lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(F.broadcast(nDocs))
      .select(F.col("doc_id"), F.col("term"),
        F.round(F.col("tf").cast("double") *
          F.log((F.col("n_docs").cast("double") + F.lit(1.0)) /
            (F.col("df").cast("double") + F.lit(1.0))), 9).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(F.col("score").desc, F.col("term").asc)
    scored.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select("doc_id", "term", "score", "rank")
  }

  /** Fused single-pass document profile: quality stats, language ID,
    * BPE-ish token count, repetition share, 64-bit SimHash, and
    * winnowing-fingerprint count — ONE scan, ONE codegen'd projection.
    *
    * At 100 TB this is the difference between reading the corpus once
    * and reading it six times: every profile column is a per-row
    * expression over the same (text, tokens) pair, so a pipeline that
    * needs stats + langid + dedup signatures should call this instead
    * of stacking the individual ops. The two-step select keeps the
    * token array an attribute — CollapseProject will not inline a
    * multiply-referenced non-cheap expression, so tokenization runs
    * once per row, not once per derived column.
    */
  def docProfile(df: DataFrame, idCol: String, textCol: String,
                 stopLang: Seq[String],
                 fpK: Int = 4, fpW: Int = 3): DataFrame = {
    import graft.functions.HashExprs
    import graft.functions.HashExprs.{stopwordCount, sumTokenChars}
    val base = df.select(F.col(idCol), F.col(textCol).as("__text"),
      tokens(F.col(textCol)).as("__toks"))
    // stage the expensive per-row kernels (regexp scans, stopword and
    // char counters) as attributes: each ratio below re-references its
    // numerator, and without this projection boundary the optimizer
    // inlines the kernel into every reference — the counts would run
    // twice per row (exactly qualityStats' cost shape; here we pay
    // each kernel once)
    val mid = base.select(F.col(idCol), F.col("__text"), F.col("__toks"),
      F.length(F.col("__text")).as("__nc"),
      F.size(F.col("__toks")).as("__nt"),
      F.regexp_count(F.col("__text"), F.lit("[^a-zA-Z0-9 ]")).as("__np"),
      F.regexp_count(F.col("__text"), F.lit("[A-Z]")).as("__nu"),
      stopwordCount(F.col("__toks"), stopLang).as("__ns"),
      sumTokenChars(F.col("__toks")).as("__sc"))
    val text = F.col("__text")
    val toks = F.col("__toks")
    val (nc, nt, np, nu, ns, sc) = (F.col("__nc"), F.col("__nt"),
      F.col("__np"), F.col("__nu"), F.col("__ns"), F.col("__sc"))
    mid.select(F.col(idCol),
      nc.cast("long").as("n_chars"),
      nt.cast("long").as("n_tokens"),
      np.cast("long").as("n_punct"),
      nu.cast("long").as("n_upper"),
      ns.as("n_stopwords"),
      F.when(nc > 0, np.cast("double") / nc.cast("double"))
        .otherwise(F.lit(0.0)).as("punct_ratio"),
      F.when(nt > 0, ns.cast("double") / nt.cast("double"))
        .otherwise(F.lit(0.0)).as("stopword_ratio"),
      F.when(nt > 0, sc.cast("double") / nt.cast("double"))
        .otherwise(F.lit(0.0)).as("avg_token_len"),
      HashExprs.langScore(toks, stopwords).as("predicted_lang"),
      bpeTokenCount(text).cast("long").as("n_tokens_bpe"),
      topTokenShare(toks).as("top_token_share"),
      F.when(nt > 0, HashExprs.simhash64(toks)).as("simhash"),
      F.size(HashExprs.winnowMins(
        HashExprs.shingleHashes(toks, fpK, sortedDistinct = false), fpW))
        .cast("long").as("n_fp"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    * hash k-token shingles, slide a window of size w, keep each
    * window's minimum hash; the distinct minima are the fingerprint
    * set. Per-row expression — no shuffle.
    */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 3): Column = {
    // positional shingle hashes + window minima, each one native pass;
    // the naive slice(hashes, i, w)-per-window formulation re-evaluates
    // the whole shingle chain per window (quadratic, interpreted), and
    // a transform(sh, s -> xxhash64(s)) lambda would break codegen.
    val hashes = graft.functions.HashExprs.shingleHashes(
      tokens(text), k, sortedDistinct = false)
    graft.functions.HashExprs.winnowMins(hashes, w)
  }
}
