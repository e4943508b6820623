package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.8c L4):
  * quality scoring, regex (BPE-ish) token counting, n-gram/stopword
  * language identification, and rolling-hash document fingerprinting.
  *
  * Everything here is built from codegen'd Spark SQL expressions (no UDFs
  * in the per-document hot path except the winnowing fingerprint, which is
  * a custom kernel by design), so the operators scale as embarrassingly
  * parallel projections + one grouped aggregation where declared.
  */
object TextAnalysis {

  /** GPT-2-shaped pre-tokenizer: letter runs, digit runs, or single runs
    * of other non-space symbols. RE2/Java-regex common subset so the
    * DuckDB oracle tokenizes identically. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Token count under the BPE-ish regex plus whitespace token count. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("bpe_tokens"))

  /** Quality metrics per document: char length, token count, mean token
    * length, punctuation ratio, stopword ratio, and a composite score in
    * [0,1] (monotone in "looks like prose"). All ratios are over chars or
    * tokens as noted; deterministic, ANSI-safe (no division by zero on
    * empty docs). */
  /** The quality metric columns themselves, exposed so composites
    * (CorpusPrep) can ride them along arbitrary rows in a single pass
    * instead of computing them behind a join. */
  def qualityColumns(textCol: String): Seq[(String, Column)] = {
    val toks = split(col(textCol), " ")
    val nChars = length(col(textCol)).cast("double")
    val nToks = size(toks).cast("double")
    val punct = length(regexp_replace(col(textCol), "[^.,;:!?]", ""))
      .cast("double")
    val stop = size(filter(toks, w => w.isin(Stopwords.en: _*))).cast("double")
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nToks.cast("long"),
      "avg_tok_len" -> round(nChars / greatest(nToks, lit(1.0)), 4),
      "punct_ratio" -> round(punct / greatest(nChars, lit(1.0)), 6),
      "stopword_ratio" -> round(stop / greatest(nToks, lit(1.0)), 6))
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // r16: regex/tokenize-heavy projection — widen a narrow (1-split
    // local) scan to slot parallelism first; no-op on a wide corpus scan
    Par.widen(docs, col(idCol)).select(col(idCol) +:
      qualityColumns(textCol).map { case (n, c) => c.as(n) }: _*)

  /** Stopword-vote language ID over the profile lists in [[Stopwords]]:
    * score(lang) = #tokens found in that language's stopword list; the
    * guess is the argmax with deterministic tiebreak on language code.
    * A real n-gram/stopword heuristic — accuracy is property-tested on
    * genuine multilingual snippets in the test suite. */
  /** The language-guess column itself (see [[qualityColumns]] rationale). */
  def languageGuess(textCol: String): Column = {
    val toks = split(col(textCol), " ")
    def score(words: Seq[String]): Column =
      size(filter(toks, w => w.isin(words: _*))).cast("double")
    // argmax via greatest + chained when: deterministic, fully codegen'd.
    val scored = Stopwords.profiles.map { case (lang, words) =>
      lang -> score(words)
    }
    val best = greatest(scored.map(_._2): _*)
    val guess = scored.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, s)) =>
        when(acc.isNull && s === best && best > 0, lang).otherwise(acc)
    }
    coalesce(guess, lit("und"))
  }

  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.widen(docs, col(idCol))
      .select(col(idCol), languageGuess(textCol).as("lang_guess"))

  /** Winnowing fingerprints (MOSS-style): k-gram rolling hashes, minimum
    * per sliding window of w — a compact, position-robust signature set
    * per document. Runs via the custom `winnow` expression (one pass per
    * doc, no shuffle); downstream dedup joins on exploded fingerprints. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    docs.select(col(idCol),
      expr(s"winnow($textCol, $k, $w)").as("fingerprints"))
  }

  /** PII patterns for [[redactPii]] — RE2/Java-regex common subset (no
    * backreferences, no lookaround) so any engine applies them
    * identically. Ordered: longest/most-specific first so an email is not
    * half-eaten by the phone pattern. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?",
    "ipv4"  -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "ssn"   -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b")

  /** Redact PII spans (email, phone, IPv4, SSN shapes) to `[PII]`,
    * appending the redacted text and the number of redacted spans. A
    * chained codegen'd regexp_replace projection — no shuffle; the span
    * count comes from the same patterns via regexp_count so the report
    * needs no second pass over matches. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String,
                token: String = "[PII]"): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) { case (c, (_, p)) =>
      regexp_replace(c, p, token)
    }
    // span count = token occurrences gained across the chain. Each
    // replacement inserts exactly ONE token, and no later pattern can
    // destroy or absorb an earlier token (the token contains none of the
    // digit/@ characters the patterns anchor on), so
    //   #replacements = count(token, redacted) − count(token, original)
    // — two cheap literal counts instead of re-running the O(patterns²)
    // replace chain per pattern (the formulation this replaced spent
    // ~10 regex passes per document; same value, measured ~2× faster on
    // the sf0.1 bench). Overlapping shapes still count once: a span
    // consumed by an earlier pattern is simply absent later.
    val tokenRe = lit(java.util.regex.Pattern.quote(token))
    Par.widen(docs, col(idCol)).withColumn("text_redacted", redacted)
      .withColumn("n_redactions",
        (regexp_count(col("text_redacted"), tokenRe) -
          regexp_count(col(textCol), tokenRe)).cast("long"))
  }

  /** Intra-document repetition metrics (Gopher/RefinedWeb-style quality
    * signals): the fraction of word n-gram OCCURRENCES that are repeats
    * of an earlier occurrence in the same document, and the share held by
    * the single most frequent n-gram. High values mark boilerplate and
    * degenerate generations. One shingle explode + per-doc aggregation —
    * shuffles (doc, shingle) pairs, never documents. */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    // The n-grams exist here only to be counted EQUAL-or-not, so the
    // aggregation runs on 8-byte xxhash64 values of the word windows
    // instead of concatenated shingle strings: the string n-grams are
    // never materialized (the multi-arg hash consumes the word slots
    // directly), and both shuffles carry (id, hash) instead of
    // (id, ~25-byte text) — the same hashed-shingle licensing as the
    // MinHash confirm path (counts differ from string grouping only on
    // an intra-document 64-bit collision, ~k²/2^64 per doc).
    val grams = hashedWordGrams(docs, Seq(idCol), textCol, n)
    grams.groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").cast("long").as("n_grams"),
        round(lit(1.0) - count(lit(1)) / sum("c").cast("double"), 6)
          .as("dup_frac"),
        round(max("c") / sum("c").cast("double"), 6).as("top_gram_share"))
  }

  /** The Gopher rules' required-stopword list (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): a document must contain at least
    * `minStopHits` distinct words from this list to count as prose. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): word count in [minWords, maxWords], mean
    * word length in [minMeanLen, maxMeanLen], at least `minAlphaFrac` of
    * words containing an alphabetic character, and at least
    * `minStopHits` distinct required stopwords present. Emits the
    * metrics plus the composite `keep` verdict. Pure projection over
    * array builtins — no shuffle, no UDF; ratios are rounded BEFORE the
    * threshold comparison so the verdict is reproducible cross-engine
    * (a raw double compare at the boundary is an engine-ulp coin flip). */
  /** (keyCols..., __h) — one row per word n-gram OCCURRENCE, where `__h`
    * is the multi-arg xxhash64 of the n word slots. The string n-gram is
    * never built. Word semantics match `shingles(text, n)`: split on
    * single spaces, empties dropped, rows with fewer than n words emit
    * nothing (the when-guard matters: Spark's sequence(1, 0) would count
    * DOWN, so short docs must yield NULL — explode drops it — not a
    * descending index range). */
  private def hashedWordGrams(df: DataFrame, keyCols: Seq[String],
                              textCol: String, n: Int): DataFrame = {
    val ws = filter(split(col(textCol), " "), w => w =!= "")
    df.select(keyCols.map(col) :+ ws.as("__ws"): _*)
      .select(keyCols.map(col) :+ col("__ws") :+
        explode(when(size(col("__ws")) >= n,
          sequence(lit(1), size(col("__ws")) - (n - 1)))).as("__i"): _*)
      .select(keyCols.map(col) :+
        xxhash64((0 until n).map(j =>
          element_at(col("__ws"), col("__i") + j)): _*).as("__h"): _*)
  }

  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    // STAGE the token array as a named column: inlining the
    // filter(split(...)) expression into every consumer re-splits the
    // text once per reference (HOF subtrees are not CSE'd), and the
    // per-stopword array_contains chain multiplied that by |stopwords|
    // — measured 29.1 s → 4.2 s at 1M docs (TextBench); the remaining
    // cost is the per-token alphaFrac regex, shared with every other
    // rule stage. stop_hits = |array_intersect| — distinct stopwords
    // present, exactly the per-stopword-presence sum, in ONE pass.
    val toks = col("__toks")
    val n = size(toks).cast("long")
    val totChars = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val meanLen = round(totChars.cast("double") /
      greatest(n, lit(1L)).cast("double"), 4)
    val alphaFrac = round(
      size(filter(toks, _.rlike("[A-Za-z]"))).cast("double") /
        greatest(n, lit(1L)).cast("double"), 6)
    val stopHits = size(array_intersect(toks,
      lit(GopherStopwords.toArray))).cast("long")
    docs.select(col(idCol),
        filter(split(col(textCol), " "), _ =!= "").as("__toks"))
      .select(col(idCol),
        n.as("n_words"), meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"), stopHits.as("stop_hits"),
        (n.between(minWords, maxWords) &&
          meanLen.between(minMeanLen, maxMeanLen) &&
          alphaFrac >= minAlphaFrac &&
          stopHits >= minStopHits).as("keep"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2): keep only lines that end in terminal punctuation, have at
    * least `minLineWords` words, and contain no code/boilerplate markers
    * (curly brace, "javascript", "lorem ipsum"). Emits line counts, the
    * cleaned text (kept lines re-joined), and a document-level `keep`
    * (at least `minKeptLines` surviving lines). Pure projection over
    * array builtins — no shuffle, no UDF. */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String,
                minLineWords: Int = 5, minKeptLines: Int = 1): DataFrame = {
    val lines = split(col(textCol), "\n")
    def lineOk(ln: Column): Column =
      ln.rlike("[.!?\"]$") &&
        size(filter(split(ln, " "), w => w =!= "")) >= minLineWords &&
        !lower(ln).contains("lorem ipsum") &&
        !ln.contains("{") &&
        !lower(ln).contains("javascript")
    // STAGE the kept-lines array as a named column (the gopherRules
    // lesson): its three consumers would otherwise each re-run the
    // whole per-line rule chain — HOF subtrees are not CSE'd.
    docs.select(col(idCol), size(lines).cast("long").as("n_lines"),
        filter(lines, lineOk _).as("__kept"))
      .select(col(idCol),
        col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws("\n", col("__kept")).as("text_clean"),
        (size(col("__kept")) >= minKeptLines).as("keep"))
  }

  /** Canonical text normalization — the first stage of every dedup
    * pipeline (exact dedup is only as good as its canonical form):
    * lowercase, strip control characters, collapse whitespace runs to
    * single spaces, trim. A chained codegen'd projection; patterns are
    * RE2/Java common subset so any engine reproduces the canonical
    * form byte-for-byte. */
  def normalize(textCol: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(textCol), "[\\x00-\\x1F\\x7F]", " "),
      " {2,}", " "))

  def normalizeDocs(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    docs.withColumn("text_norm", normalize(col(textCol)))

  /** HTML → text extraction — stage zero of a web-crawl corpus (the
    * trafilatura/jusText job, reduced to its deterministic core):
    * drop `<script>`/`<style>` subtrees and comments, strip remaining
    * tags to spaces, decode the named entities that appear in running
    * text, collapse whitespace. A chained codegen'd projection — no
    * shuffle, no UDF; patterns avoid backreferences and stay in the
    * RE2/Java common subset so the rule replays on any engine (q152's
    * DuckDB oracle runs these exact patterns). `&amp;` decodes LAST —
    * the single-pass convention that keeps `&amp;lt;` a literal
    * `&lt;` instead of double-decoding to `<`. */
  def stripHtml(textCol: Column): Column = {
    val noScript = regexp_replace(textCol,
      "(?is)<script[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def stripHtmlDocs(docs: DataFrame, idCol: String,
                    htmlCol: String): DataFrame =
    Par.widen(docs, col(idCol))
      .select(col(idCol), stripHtml(col(htmlCol)).as("text"))

  /** Benchmark-contamination score: the fraction of each document's
    * distinct word n-grams that also occur anywhere in `bench` — the
    * decontamination primitive of a training-data pipeline (drop or flag
    * docs overlapping an eval set). Both sides reduce to DISTINCT
    * (id, shingle) / (shingle) sets and meet in one equi-join ON the
    * shingle — shuffle is by n-gram, never documents × benchmarks. The
    * benchmark side is typically tiny → AQE broadcasts it. */
  def contaminationScore(docs: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    // Hashed n-grams end to end (the repetitionScore licensing): both
    // DISTINCT reductions and the equi-join run on 8-byte hashes, the
    // n-gram strings are never materialized, and the broadcast of the
    // bench side shrinks by the same factor.
    // the train-side gram table feeds BOTH the hit join and the totals
    // agg — uncut, the train tokenize re-plans per consumer (audited:
    // 3 static documents scans incl. the bench side). cache(): doc ×
    // gram is row-scale.
    val d = hashedWordGrams(docs, Seq(idCol), textCol, n).distinct()
      .transform(Cut.rows)
    val b = hashedWordGrams(bench, Nil, textCol, n).distinct()
    val hits = d.join(b, Seq("__h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("hit"))
    val tot = d.groupBy(col(idCol)).agg(count(lit(1)).as("total"))
    tot.join(hits, Seq(idCol), "left")
      .select(col(idCol),
        col("total").cast("long").as("n_shingles"),
        coalesce(col("hit"), lit(0L)).cast("long").as("n_contaminated"),
        round(coalesce(col("hit"), lit(0L)) / col("total").cast("double"), 6)
          .as("contamination"))
  }

  /** PMI collocations — which vocabulary terms co-occur in documents far
    * more than independence predicts (the collocation/phrase-mining
    * signal): pmi(x, y) = ln(c_xy·N / (df_x·df_y)) over document-level
    * co-occurrence, for pairs seen in ≥ `minPairDocs` documents.
    *
    * Scale shape: tokens collapse to DISTINCT (doc, token) and
    * semi-join the supplied vocabulary FIRST, so the within-document
    * self-join fans out quadratically only in vocabulary terms per
    * document — bounded by |vocab|, not document length. One shuffle
    * join on doc, one pair aggregation. Counts stay integral; the pmi
    * argument is one exact-integer product divided once, and only the
    * ln result is rounded — the q159 LN discipline. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      vocab: DataFrame,
                      minPairDocs: Long = 5L): DataFrame = {
    // tk feeds THREE consumers (df counts + both sides of the pair
    // self-join) and its upstream is the corpus tokenize + distinct
    // shuffle
    val tk = docs.select(col(idCol).as("doc"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .join(vocab.select("token"), Seq("token"), "left_semi")
      .transform(Cut.rows)
    val nDocs = docs.select(col(idCol)).distinct().count()
    val dfx = tk.groupBy("token").agg(count(lit(1)).as("df"))
    val pairs = tk.select(col("doc"), col("token").as("tok_a"))
      .join(tk.select(col("doc"), col("token").as("tok_b")), Seq("doc"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minPairDocs)
    pairs
      .join(dfx.select(col("token").as("tok_a"), col("df").as("dfa")), "tok_a")
      .join(dfx.select(col("token").as("tok_b"), col("df").as("dfb")), "tok_b")
      .select(col("tok_a"), col("tok_b"), col("c").cast("long").as("c"),
        round(log((col("c") * lit(nDocs)).cast("double") /
          (col("dfa") * col("dfb"))), 6).as("pmi"))
  }

  /** Zipf slope per group — the log-log rank-frequency regression that
    * summarizes whether a source's token distribution looks like
    * natural language (slope ≈ −1) or like templated/boilerplate text:
    * one row per group with the OLS slope of log₁₀(freq) on
    * log₁₀(rank) over the top `topK` tokens.
    *
    * Determinism discipline: frequencies and ranks are exact integers;
    * the four regression sums (Σx, Σy, Σxy, Σx²) fold in rank order
    * via running window sums over the ≤ topK-row per-group token table
    * (the q159/q175 ordered-fold idiom), and the closed-form slope is
    * a handful of deterministic double ops — so the rounded slope
    * hash-replays cross-engine without trusting any engine's REGR_*
    * accumulation order. */
  def zipfSlope(docs: DataFrame, textCol: String, groupCol: String,
                topK: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs.select(col(groupCol).as("g"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("g", "token").agg(count(lit(1)).as("f"))
    val rk = row_number().over(
      Window.partitionBy("g").orderBy(col("f").desc, col("token")))
    val ranked = freq.withColumn("r", rk.cast("long"))
      .filter(col("r") <= topK)
      .withColumn("x", log10(col("r").cast("double")))
      .withColumn("y", log10(col("f").cast("double")))
    val wCum = Window.partitionBy("g").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranked
      .withColumn("sx", sum("x").over(wCum))
      .withColumn("sy", sum("y").over(wCum))
      .withColumn("sxy", sum(col("x") * col("y")).over(wCum))
      .withColumn("sxx", sum(col("x") * col("x")).over(wCum))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("r").desc)))
    cum.filter(col("rn") === 1)
      .select(col("g"), col("r").as("n_tokens"),
        when(col("r") < 2, lit(null)).otherwise(
          round((col("r") * col("sxy") - col("sx") * col("sy")) /
            (col("r") * col("sxx") - col("sx") * col("sx")), 6))
          .as("slope"))
  }

  /** Vocabulary coverage curve — what share of the corpus's TOKEN MASS
    * the top-k vocabulary types cover, evaluated at the given k
    * checkpoints: the sizing readout for BPE vocab budgets, stopword
    * lists, and OOV-rate forecasts (q145's gate asks "is this doc
    * covered"; this asks "how big must the vocab be to cover X%").
    * One grouped count on the type keyspace + one frequency-ordered
    * ranking window over the TYPE table (vocabulary-sized, not
    * corpus-sized); prefix sums are exact integer windows; each share
    * is ONE division. Ties at a checkpoint boundary break by token
    * string (deterministic). */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty, "vocabCoverage needs at least one k checkpoint")
    import org.apache.spark.sql.expressions.Window
    val freq = docs.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("f"))
    val w = Window.orderBy(col("f").desc, col("token"))
    val ranked = freq
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum("f").over(
        Window.orderBy(col("f").desc, col("token"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("f").over(
        Window.rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("n_types", count(lit(1)).over(
        Window.rowsBetween(Long.MinValue, Long.MaxValue)))
    val kDf = docs.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    ranked.join(broadcast(kDf), col("r") === least(col("k"),
        col("n_types")))
      .select(col("k"), col("n_types").cast("long").as("n_types"),
        col("r").as("types_used"),
        col("cum").cast("long").as("covered_tokens"),
        col("total").cast("long").as("total_tokens"),
        (col("cum").cast("double") / col("total")).as("coverage"))
  }

  /** Per-slice lexical diversity — the "is this slice template spam or
    * real prose" summary the mixture dashboard wants next to
    * [[vocabCoverage]]'s global curve: type/token ratio, hapax share,
    * and Yule's K
    *
    *   K = 10⁴ · (Σ_m m²·V(m) − N) / N²   (= 10⁴·(Σ_types f² − N)/N²)
    *
    * — K is length-insensitive where raw TTR is not, and rises as a
    * few types dominate (boilerplate, SEO keyword stuffing). One
    * shuffle to the (slice, type) frequency table, one to the slice
    * row; tokens/types/hapaxes are exact integers, Σf² accumulates in
    * DECIMAL(38) (order-free), and each readout is a fixed tree over
    * exact-to-double casts with ONE division — bit-identical on any
    * engine and partitioning. Per-slice state is the type table the
    * vocab operators already carry. NULL readouts on an empty slice
    * never occur (a slice with no non-empty tokens emits no row). */
  def lexicalDiversity(docs: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val freq = docs
      .select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__f"))
    freq.groupBy(col("__g"))
      .agg(sum("__f").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__f") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum((col("__f") * col("__f")).cast(dec38)).as("__m2"))
      .select(col("__g").as(groupCol),
        col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types"))
          .as("hapax_ratio"),
        (lit(10000.0) * (col("__m2").cast("double") -
          col("n_tokens").cast("double")) /
          (col("n_tokens").cast("double") *
            col("n_tokens").cast("double"))).as("yules_k"))
  }

  /** Chao1 vocabulary-richness estimator per slice — how many types
    * the corpus HASN'T shown yet: Chao1 = V + F₁(F₁−1)/(2(F₂+1))
    * (bias-corrected form — defined even with no doubletons), with F₁
    * singleton and F₂ doubleton type counts. The unseen-mass companion
    * to [[heapsLaw]]'s growth exponent and [[lexicalDiversity]]'s
    * hapax share: "is more data still buying vocabulary". ONE grouped
    * pass over the (slice, type) frequency table; exact integer
    * counts, ONE division. */
  def chao1Richness(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val freq = docs
      .select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__f"))
    freq.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("__f") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__f") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("__g").as(groupCol),
        col("n_types"), col("f1"), col("f2"),
        (col("n_types") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1))).as("chao1"))
  }

  /** Heaps'-law exponent — how fast vocabulary grows with corpus size,
    * V(T) = K·T^β (natural prose β ≈ 0.4–0.6; duplicated/boilerplate
    * corpora flatten, OCR noise inflates): the growth-curve companion
    * to the [[lexicalDiversity]] point ratios and the q184 Zipf slope.
    *
    * Scale shape: the curve is probed at FIXED power-of-two doc-id
    * cutoffs (a bounded literal broadcast — never a row-scale global
    * window over the doc sequence): per probe n, T(n) = tokens in docs
    * below the cutoff and V(n) = types whose FIRST doc sits below it,
    * both exact integer conditional sums off ONE type-table pass and
    * ONE per-doc token-count pass. The OLS of ln V on ln T runs over
    * ≤ `maxProbes` points on the [[Exact.lnq]] 2⁻²⁶ grid SCALED TO
    * INTEGERS, so the moments are exact DECIMAL(38) sums and β is one
    * division — engine-identical. Probes above the corpus id range
    * drop; NULL beta below 2 surviving probes. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               maxProbes: Int = 16): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = docs.sparkSession
    val cuts = spark.createDataFrame(
      (0 until maxProbes).map(i => Tuple1(1L << i))).toDF("cut")
    val toks = docs.select(col(idCol).cast("long").as("__id"),
        explode(split(col(textCol), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
    val firstDoc = toks.groupBy("__tok").agg(min("__id").as("__fd"))
    val v = firstDoc.crossJoin(broadcast(cuts))
      .filter(col("__fd") < col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("__v"))
    val t = toks.groupBy("__id").agg(count(lit(1)).as("__nt"))
      .crossJoin(broadcast(cuts))
      .filter(col("__id") < col("cut"))
      .groupBy("cut").agg(sum("__nt").as("__t"))
    val gridInt = (c: Column) =>
      (Exact.lnq(c) * lit(67108864.0)).cast("long")
    // keep informative probes only: T must GROW between points or the
    // duplicated (x, y) pairs would weight the fit arbitrarily — a
    // probe past the corpus ceiling repeats the final total
    val pts = v.join(t, "cut")
      .filter(col("__t") > 0 && col("__v") > 0)
      .groupBy(col("__t")).agg(min("__v").as("__v"))
      .select(gridInt(col("__t")).as("__x"), gridInt(col("__v")).as("__y"))
    def s(c: Column) = sum(c.cast(dec38))
    val m = pts.agg(count(lit(1)).as("n_probes"),
      s(col("__x")).as("sx"), s(col("__y")).as("sy"),
      s(col("__x") * col("__x")).as("sxx"),
      s(col("__x") * col("__y")).as("sxy"))
    val n = col("n_probes").cast(dec38)
    val dx = n * col("sxx") - col("sx") * col("sx")
    val num = n * col("sxy") - col("sx") * col("sy")
    m.select(col("n_probes"),
      when(col("n_probes") < 2 || dx === lit(0).cast(dec38), lit(null))
        .otherwise(num.cast("double") / dx.cast("double")).as("beta"),
      when(col("n_probes") < 2 || dx === lit(0).cast(dec38), lit(null))
        .otherwise(((col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("double") / dx.cast("double")) / 67108864.0)
        .as("ln_k"))
  }

    /** RAKE keyword extraction (Rose et al. 2010) — corpus-level
    * keyphrases without a model: candidate phrases are the maximal
    * runs between STOPWORDS, each word scores deg(w)/freq(w) over the
    * candidate-phrase corpus (deg = Σ phrase length at each
    * occurrence — words that live in longer phrases score higher;
    * freq = occurrence count), and a phrase scores the sum of its
    * words' ratios. The classic first-pass keyword lister for corpus
    * triage and dedup-cluster labeling next to [[Indexing.tfIdf]]'s
    * per-document weights.
    *
    * Determinism: deg and freq are exact integers; each word ratio
    * divides ONCE; a phrase's ratios fold in WORD-POSITION order
    * inside one row (bounded by `maxPhraseLen` — the q221/q223
    * double-sum lesson); the top-k orders by (score DESC, phrase) —
    * scores are bit-identical cross-engine, so the cut is too. The
    * stopword split is one global regexp_replace (word-boundary
    * alternation — RE2/Java common subset), so the oracle replays it
    * verbatim. Scale: one explode + two keyspace-bounded aggs + one
    * word-key join + one top-k (TakeOrdered). */
  def rakeKeywords(docs: DataFrame, textCol: String,
                   stopwords: Seq[String], maxPhraseLen: Int = 4,
                   topK: Int = 20): DataFrame = {
    require(stopwords.nonEmpty &&
      stopwords.forall(_.matches("[A-Za-z']+")),
      "rakeKeywords: stopwords must be non-empty simple words")
    require(maxPhraseLen >= 1 && topK >= 1,
      "rakeKeywords: maxPhraseLen and topK must be >= 1")
    val pat = "\\b(" + stopwords.mkString("|") + ")\\b"
    val phrases = docs
      .select(explode(split(
        regexp_replace(col(textCol), pat, "|"), "\\|")).as("__p0"))
      .select(regexp_replace(trim(col("__p0")), " +", " ").as("__p"))
      .filter(col("__p") =!= "")
      .withColumn("__ws", split(col("__p"), " "))
      .filter(size(col("__ws")) <= maxPhraseLen)
      .transform(Cut.summary) // feeds word stats AND phrase stats
    val wstats = phrases
      .select(explode(col("__ws")).as("__w"),
        size(col("__ws")).cast("long").as("__l"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__freq"), sum("__l").as("__deg"))
    val occ = phrases.groupBy("__p")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("__ws", split(col("__p"), " "))
    val words = occ
      .select(col("__p"), col("n_occ"), posexplode(col("__ws")))
      .withColumnRenamed("pos", "__i").withColumnRenamed("col", "__w")
      .join(wstats, "__w")
      .withColumn("__r", col("__deg").cast("double") / col("__freq"))
    words.groupBy("__p", "n_occ")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__i"), col("__r")))),
        lit(0.0), (a, e) => a + e.getField("__r")).as("score"))
      .select(col("__p").as("phrase"), col("n_occ"), col("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topK)
  }

  /** Pairwise vocabulary overlap between corpus slices — the
    * source-level "do these corpora speak the same language" matrix:
    * per (groupA < groupB), the shared type count and vocabulary
    * Jaccard |V_a ∩ V_b| / |V_a ∪ V_b|. The slice-level complement to
    * per-document near-dup: two sources can share no documents yet be
    * near-identical in vocabulary (mirrors, translations of one feed)
    * or share none of it (different domains). Inverted-index shape:
    * distinct (group, type), self-join on the TYPE (posting lists are
    * group-cardinality bounded — at most #groups per type), one
    * grouped count; `minDf` drops singleton types first when noise
    * swamps the signal. Counts integral; Jaccard ONE division. */
  def vocabOverlap(docs: DataFrame, groupCol: String, textCol: String,
                   minDf: Long = 1L): DataFrame = {
    // group×vocabulary-bounded, feeds sizes + both self-join sides —
    // uncut, the corpus tokenize re-plans per consumer (audited: 4
    // static documents scans)
    val types0 = docs.select(col(groupCol).cast("string").as("g"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("g", "token").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("g", "token")
      .transform(Cut.summary)
    val sizes = types0.groupBy("g").agg(count(lit(1)).as("v"))
    val shared = types0.select(col("g").as("ga"), col("token"))
      .join(types0.select(col("g").as("gb"), col("token")), Seq("token"))
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("g").as("ga"), col("v").as("vocab_a")), "ga")
      .join(sizes.select(col("g").as("gb"), col("v").as("vocab_b")), "gb")
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("vocab_a").cast("long").as("vocab_a"),
        col("vocab_b").cast("long").as("vocab_b"),
        col("shared").cast("long").as("shared"),
        (col("shared").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("shared")))
          .as("jaccard"))
  }

  /** Informative-Dirichlet log-odds — Monroe/Colaresi/Quinn's
    * "fightin' words", THE corpus-diff statistic: which tokens
    * distinguish corpus A from corpus B, with the whole-corpus token
    * distribution as the Dirichlet prior so rare-token noise is
    * shrunk away (raw count diffs and PMI both drown in it).
    *
    *   δ_w = ln((y_aw + α_w)/(n_a + α₀ − y_aw − α_w))
    *       − ln((y_bw + α_w)/(n_b + α₀ − y_bw − α_w)),
    *   σ²_w ≈ 1/(y_aw + α_w) + 1/(y_bw + α_w),  z = δ/σ
    *
    * with α_w = `alpha0` · (corpus share of w). Scale shape: one
    * tagged union + ONE grouped count on the vocabulary keyspace;
    * everything after runs on vocabulary rows. Determinism: counts
    * integral; α_w, both logits and σ are fixed single-division trees
    * with the lns through [[Exact.lnq]]; one sqrt. Top driving tokens
    * = order by z. */
  def fightinWords(a: DataFrame, b: DataFrame, textCol: String,
                   alpha0: Double = 500.0): DataFrame = {
    require(alpha0 > 0, s"alpha0 must be > 0, got $alpha0")
    def toks(df: DataFrame, side: String) =
      df.select(explode(split(col(textCol), " ")).as("token"))
        .filter(col("token") =!= "")
        .withColumn("__side", lit(side))
    val counts = toks(a, "a").unionByName(toks(b, "b"))
      .groupBy("token")
      .agg(sum(when(col("__side") === "a", 1L).otherwise(0L)).as("ya"),
        sum(when(col("__side") === "b", 1L).otherwise(0L)).as("yb"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val t = counts
      .withColumn("__na", sum("ya").over(wAll))
      .withColumn("__nb", sum("yb").over(wAll))
      .withColumn("__aw", lit(alpha0) *
        ((col("ya") + col("yb")).cast("double") /
          (col("__na") + col("__nb"))))
    val dA = graft.ops.Exact.lnq((col("ya") + col("__aw")) /
      (col("__na") + lit(alpha0) - col("ya") - col("__aw")))
    val dB = graft.ops.Exact.lnq((col("yb") + col("__aw")) /
      (col("__nb") + lit(alpha0) - col("yb") - col("__aw")))
    val sigma = sqrt(lit(1.0) / (col("ya") + col("__aw")) +
      lit(1.0) / (col("yb") + col("__aw")))
    t.select(col("token"), col("ya").cast("long").as("n_a"),
        col("yb").cast("long").as("n_b"),
        (dA - dB).as("delta"),
        ((dA - dB) / sigma).as("z"))
  }

  /** Token burstiness — the Fano factor (variance/mean) of each
    * top-`topK` token's per-document count, Church & Gale's topical-
    * vs-functional discriminant: a function word ("the") spreads
    * evenly (Fano ≈ 1, Poisson-like); a topical word clumps into the
    * few documents about its topic (Fano ≫ 1). The curation use:
    * bursty high-frequency tokens flag template/boilerplate clusters
    * that frequency alone cannot see.
    *
    * Exactness: zero-count documents enter the moments WITHOUT being
    * materialized — Σx and Σx² come from the nonzero (doc, token)
    * table and the zeros contribute nothing, so mean = Σx/N and
    * var = (N·Σx² − (Σx)²)/(N·(N−1)) use the TOTAL document count N
    * as exact integers (DECIMAL(38,0)); Fano is ONE division of the
    * two. One grouped count to (doc, token), one to the token table;
    * ranking window over the token table only. */
  def tokenBurstiness(docs: DataFrame, idCol: String, textCol: String,
                      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val nDocs = docs.agg(count(lit(1)).as("__N"))
    val perDoc = docs.select(col(idCol).as("__id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("__id", "token").agg(count(lit(1)).as("__x"))
    val byTok = perDoc.groupBy("token")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__x").cast(dec38)).as("__sx"),
        sum((col("__x") * col("__x")).cast(dec38)).as("__sxx"))
    val top = byTok
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__sx").desc, col("token"))))
      .filter(col("__rk") <= topK)
    top.crossJoin(broadcast(nDocs))
      .select(col("token"), col("__rk").cast("long").as("rank"),
        col("n_docs").cast("long").as("n_docs"),
        col("__sx").cast("long").as("total_count"),
        (col("__sx").cast("double") / col("__N")).as("mean"),
        ((col("__N").cast(dec38) * col("__sxx") -
          col("__sx") * col("__sx")).cast("double") /
          (col("__N").cast(dec38) *
            (col("__N") - 1).cast(dec38)).cast("double")).as("variance"))
      .withColumn("fano", col("variance") / col("mean"))
  }

  /** Flesch reading-ease — the classic document-difficulty readout and
    * a cheap corpus-quality axis (OCR garbage and boilerplate score
    * absurdly; natural prose lands 30–80): 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W) with W = words, S = sentences, Y = syllables.
    * Syllables use the standard vowel-group heuristic (runs of
    * [aeiouy] in the lowercased text — whitespace breaks runs, so the
    * per-text count equals the per-word sum); sentences count
    * [.!?]-runs, floored at 1. Pure per-row projection — no shuffle,
    * codegen regex kernels. Determinism: three integral counts, two
    * divisions, then a fixed literal-coefficient expression tree; the
    * decimal literals parse to identical doubles on both engines. */
  def readability(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val words = size(filter(split(col(textCol), " "), t => t =!= ""))
      .cast("long")
    val sentences = greatest(lit(1L),
      regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val syllables = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
      .cast("long")
    docs.select(col(idCol), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
  }
}

/** Stopword profiles for the language-ID heuristic. Small on purpose —
  * these broadcast as literals into codegen; real deployments would load
  * larger profiles as a broadcast variable. */
object Stopwords {
  val en = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val de = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf")
  val fr = Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour")
  val es = Seq("el", "los", "las", "y", "es", "un", "una", "en", "que", "para")
  val zh = Seq("的", "是", "了", "在", "我", "有", "他", "这", "中", "大")

  /** Ordered (tiebreak = this order, en first). */
  val profiles: Seq[(String, Seq[String])] =
    Seq("en" -> en, "de" -> de, "fr" -> fr, "es" -> es, "zh" -> zh)
}
