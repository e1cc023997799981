package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language-ID
  * (stopword-hit heuristic), quality scoring (length/stopword/word-shape
  * ratios), token counting (whitespace + BPE-ish pre-tokenizer regex),
  * and positional rolling-hash document fingerprints. All pure
  * `functions._` column programs — codegen'd, engine-portable (DuckDB
  * oracles recompute them exactly). */
object TextAnalysis {

  /** NFC kernel: Unicode canonical composition via the JVM's Normalizer.
    * A UDF because NFC needs the Unicode composition tables — no Spark
    * builtin exists; the DuckDB oracle recomputes it with utf8proc's
    * `nfc_normalize`, an INDEPENDENT implementation, so the oracle pins
    * cross-library agreement on the composition itself. */
  private val nfcUdf = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** Unicode normalization for crawl text — the decode-adjacent cleaning
    * pass a Common-Crawl pipeline runs before any hashing or dedup, so
    * 'é' hashes identically whether the page encoded it composed
    * (U+00E9) or decomposed (e + U+0301): strips C0/C1 control chars
    * (keeping \t and \n) with a codegen'd regexp pass, then NFC-composes.
    * Deliberately NFC, not NFKC: compatibility foldings (ligatures,
    * full-width forms) are lossy and belong to tokenizer policy, not
    * text repair. `changed` marks rows the pass actually altered (the
    * null-safe comparison vs the ORIGINAL text) — at crawl scale the
    * cheap flag lets downstream stages re-hash only changed rows.
    * Narrow, zero shuffles. Output: (id, nfc_text, changed). */
  def nfcNormalize(df: DataFrame, id: String, text: String): DataFrame = {
    val stripped = regexp_replace(col(text),
      "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", "")
    val nfc = nfcUdf(stripped)
    df.select(col(id), nfc.as("nfc_text"),
      not(nfc <=> col(text)).as("changed"))
  }

  /** The major Unicode script classes `scriptProfile` counts, in the
    * deterministic dominance-priority order (first max wins a tie).
    * Each pair is (output column, Java regex class); the DuckDB oracle
    * uses RE2's `\p{Script}` spelling of the same Unicode property. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "\\p{IsLatin}", "cyrillic" -> "\\p{IsCyrillic}",
    "greek" -> "\\p{IsGreek}", "arabic" -> "\\p{IsArabic}",
    "han" -> "\\p{IsHan}", "hangul" -> "\\p{IsHangul}")

  /** Unicode script profile: per-document codepoint counts for the major
    * script classes + the dominant script — the routing signal a crawl
    * pipeline applies BEFORE language-ID (`langId`'s stopword profile
    * only reads space-delimited Latin-script text; a Cyrillic or CJK
    * page must be routed to its own model, not scored 'und'). Counts are
    * k regexp-strip passes (`length(text) − length(strip(class))`) —
    * narrow, codegen'd, zero shuffles; both engines measure string
    * length in CODEPOINTS (Spark's UTF8String.numChars, DuckDB strlen),
    * so counts agree beyond the BMP too. Dominant script = first class
    * in `ScriptClasses` order reaching the max count; 'none' when no
    * scripted codepoint occurs (digits/punct/space are script-Common and
    * deliberately count toward nothing). Output: (id, n_chars,
    * <class counts...>, dominant). */
  def scriptProfile(df: DataFrame, id: String, text: String): DataFrame = {
    val counts = ScriptClasses.map { case (name, cls) =>
      (length(col(text)) - length(regexp_replace(col(text), cls, ""))).as(name)
    }
    val withCounts = df.select(col(id) +: length(col(text)).as("n_chars") +: counts: _*)
    val maxCount = greatest(ScriptClasses.map { case (n, _) => col(n) }: _*)
    val dominant = ScriptClasses.foldRight(lit("none")) { case ((n, _), acc) =>
      when(col(n) > 0 && col(n) === maxCount, lit(n)).otherwise(acc)
    }
    withCounts.withColumn("dominant", dominant)
  }

  /** Flesch reading-ease score with the standard corpus-scale proxies:
    * words = whitespace tokens, sentences = [.!?] runs (floored at 1),
    * syllables = vowel-group runs per lowercased text ('quality' →
    * ua+i+y = 3 groups; the classic cheap estimator). Score = 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), rounded for
    * cross-engine comparison; null/empty/wordless text scores null.
    * Used as a curation band filter (boilerplate and OCR noise land far
    * outside human-prose range). Pure `regexp_count` column program —
    * codegen'd, zero shuffles, identical match semantics in RE2.
    * Output: (id, n_words, n_sentences, n_syllables, flesch). */
  def readability(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      size(filter(split(col(text), " "), t => t =!= "")).as("n_words"),
      greatest(regexp_count(col(text), lit("[.!?]+")), lit(1)).as("n_sentences"),
      regexp_count(lower(col(text)), lit("[aeiouy]+")).as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words") * lit(1.0) / col("n_sentences"))
            - lit(84.6) * (col("n_syllables") * lit(1.0) / col("n_words")), 4)))

  /** Tiny English function-word profile for the n-gram/langid heuristic. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "and", "of", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "this", "that")

  private val stopArr = array(EnStopwords.map(lit): _*)

  /** Language-ID heuristic: share of tokens that are English function
    * words; ≥ 5% → 'en', else 'und'. Output: (id, n_tokens, en_hits,
    * en_ratio, lang_pred). */
  def langId(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), split(col(text), " ").as("toks"))
      .select(col(id),
        size(filter(col("toks"), t => t =!= "")).as("n_tokens"),
        size(filter(col("toks"), t => array_contains(stopArr, t))).as("en_hits"))
      .withColumn("en_ratio",
        round(when(col("n_tokens") > 0, col("en_hits").cast("double") / col("n_tokens"))
          .otherwise(0.0), 4))
      .withColumn("lang_pred", when(col("en_ratio") >= 0.05, lit("en")).otherwise(lit("und")))

  /** Per-language function-word profiles for `langIdScripts`. The
    * Latin-script languages are told apart by closed-class words
    * (articles/conjunctions/copulas — the highest-frequency, most
    * language-specific tokens); the Cyrillic pair by the
    * orthography-distinct halves of the shared Slavic profile
    * (и/і, что/що, это/це, он/він, как/як). Words that overlap
    * between languages are harmless: prediction is argmax over hit
    * counts with first-max-wins tie order, so only the distinct words
    * carry signal. (Escapes, not literals: source must stay ASCII —
    * the build's platform charset is unset.) */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "for", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "mit", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en", "por", "con", "se"),
    "ru" -> Seq("\u0438", "\u0432", "\u043d\u0435", "\u043d\u0430",
      "\u0447\u0442\u043e", "\u043a\u0430\u043a", "\u044d\u0442\u043e",
      "\u043e\u043d", "\u043d\u043e", "\u043f\u043e"),
    "uk" -> Seq("\u0456", "\u0432", "\u043d\u0435", "\u043d\u0430",
      "\u0449\u043e", "\u044f\u043a", "\u0446\u0435",
      "\u0432\u0456\u043d", "\u0430\u043b\u0435", "\u043f\u043e"))

  /** Which profile languages compete under which dominant script. */
  val LatinLangs: Seq[String] = Seq("en", "de", "fr", "es")
  val CyrillicLangs: Seq[String] = Seq("ru", "uk")

  /** Multi-script language ID (closes `langId`'s Latin-only gap): route
    * by dominant Unicode script first (`scriptProfile`'s ladder), then
    * predict within the script — Latin and Cyrillic by argmax over
    * function-word hit counts (`LangProfiles`, first-max-wins, 0 hits →
    * 'und'), Greek/Arabic/Hangul directly (script ≈ language at crawl
    * granularity), and Han split into ja/zh by kana presence (Hiragana/
    * Katakana are unique to Japanese; Chinese pages have none). A page
    * with no dominant script but kana present is still 'ja' (pure-kana
    * text is script-Common-free under `ScriptClasses`). Everything is
    * integer codepoint/token counts — narrow codegen'd column program,
    * zero shuffles, and a DuckDB oracle reproduces it exactly. Output:
    * (id, <script counts>, kana, <lang>_hits..., dominant, lang_pred). */
  def langIdScripts(df: DataFrame, id: String, text: String): DataFrame = {
    val scriptCounts = ScriptClasses.map { case (name, cls) =>
      (length(col(text)) - length(regexp_replace(col(text), cls, ""))).as(name)
    }
    val kana = (length(col(text)) - length(regexp_replace(col(text),
      "[\\p{IsHiragana}\\p{IsKatakana}]", ""))).as("kana")
    val hitCols = LangProfiles.map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      size(filter(split(col(text), " "), t => array_contains(arr, t))).as(s"${lang}_hits")
    }
    val base = df.select((col(id) +: scriptCounts :+ kana) ++ hitCols: _*)
    val maxCount = greatest(ScriptClasses.map { case (n, _) => col(n) }: _*)
    val dominant = ScriptClasses.foldRight(lit("none")) { case ((n, _), acc) =>
      when(col(n) > 0 && col(n) === maxCount, lit(n)).otherwise(acc)
    }
    def argmax(langs: Seq[String]) = {
      val m = greatest(langs.map(l => col(s"${l}_hits")): _*)
      langs.foldRight(lit("und")) { case (l, acc) =>
        when(col(s"${l}_hits") > 0 && col(s"${l}_hits") === m, lit(l)).otherwise(acc)
      }
    }
    base.withColumn("dominant", dominant)
      .withColumn("lang_pred",
        when(col("dominant") === "latin", argmax(LatinLangs))
          .when(col("dominant") === "cyrillic", argmax(CyrillicLangs))
          .when(col("dominant") === "greek", lit("el"))
          .when(col("dominant") === "arabic", lit("ar"))
          .when(col("dominant") === "hangul", lit("ko"))
          .when(col("dominant") === "han",
            when(col("kana") > 0, lit("ja")).otherwise(lit("zh")))
          .otherwise(when(col("kana") > 0, lit("ja")).otherwise(lit("und"))))
  }

  /** BPE tokenizer TRAINING as a distributed op — the published
    * byte-pair-encoding algorithm (Sennrich et al. 2016; the
    * SentencePiece/GPT-2 tokenizer family): start from characters,
    * repeatedly merge the globally most-frequent adjacent symbol pair.
    * The corpus first folds to a WEIGHTED WORD DICTIONARY (one
    * aggregation — the classic trick that makes BPE tractable: merge
    * counting runs over distinct words × counts, not over tokens), so
    * at 100 TB the iterative part works on a vocabulary-sized table
    * regardless of corpus size. Each round is one pair-count
    * aggregation + a driver collect of exactly ONE argmax row (the
    * merge table IS the model — tiny by definition, the same
    * justified-collect shape as the IVF seeding) + one literal
    * `replace` over the dictionary.
    *
    * Symbol sequences travel as DOUBLE-SPACE-joined strings with
    * single-space edges (`" c  h  a  r "`): a pair occurrence is then
    * the literal `" p1  p2 "`, and non-regex leftmost `replace` with
    * `" p1p2 "` applies the merge with EXACTLY BPE's leftmost
    * non-overlapping semantics — each 2-space boundary donates one
    * space to each neighboring match, so consecutive occurrences
    * ("aaaa" under (a,a) → [aa][aa]) merge correctly, with identical
    * literal-replace behavior in Spark and DuckDB (the oracle unrolls
    * the same rounds as CTEs). Ties break (count DESC, p1 ASC, p2 ASC)
    * — deterministic, integer-exact. Words are lowercased [a-z]+ only
    * (tokenizer-policy normalization; sidesteps regex class
    * divergence). Output: (round, p1, p2, cnt) — the learned merge
    * list, rounds 1..nMerges. */
  def bpeTrain(df: DataFrame, text: String, nMerges: Int,
      minCount: Long = 1L): DataFrame = {
    require(nMerges >= 1, s"bpeTrain: need nMerges >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(split(lower(col(text)), " ")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    // " c  h  a  r " — single-space edges, double-space boundaries
    var dict = Layout.materialize(words // the loop re-reads it every round
      .select(col("cnt"),
        concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1  ")), lit(" ")).as("w")))
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    for (r <- 1 to nMerges if merges.size == r - 1) {
      // adjacent pairs paired WITHIN each word's symbol array (explode
      // position i, partner at i+1), weighted by the word's count
      val pairs = dict.select(col("cnt"), split(trim(col("w")), "  ").as("ss"))
        .select(col("cnt"), posexplode(col("ss")).as(Seq("i", "p1")),
          col("ss"))
        .where(col("i") < size(col("ss")) - 1)
        .select(col("cnt"), col("p1"),
          element_at(col("ss"), col("i") + 2).as("p2"))
        .groupBy(col("p1"), col("p2")).agg(sum(col("cnt")).as("c"))
      val top = pairs.orderBy(col("c").desc, col("p1").asc, col("p2").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (p1, p2, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, p1, p2, c))
        dict = Layout.materialize(dict.select(col("cnt"),
          replace(col("w"), lit(s" $p1  $p2 "), lit(s" $p1$p2 ")).as("w")))
      }
    }
    merges.toSeq.toDF("round", "p1", "p2", "cnt")
  }

  /** BPE ENCODE — apply a learned merge list ([[bpeTrain]]'s output, in
    * round order) to tokenize the corpus: per word, characters → the
    * same double-space encoding → a fold of literal replaces (one per
    * merge, in training order — BPE's apply rule) → symbol count. The
    * model is driver-side literals folded INTO the plan (the broadcast-
    * the-tiny-model shape; a merge table is a few hundred rows even for
    * production vocabs), so encoding is a pure narrow column program —
    * codegen'd, zero shuffles before the final per-doc aggregation.
    * Output: (id, n_words, n_tokens). */
  def bpeEncode(df: DataFrame, id: String, text: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df
      .select(col(id), explode(split(lower(col(text)), " ")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
    val spaced = concat(lit(" "),
      trim(regexp_replace(col("word"), "(.)", "$1  ")), lit(" "))
    val encoded = merges.foldLeft(spaced) { case (c, (p1, p2)) =>
      replace(c, lit(s" $p1  $p2 "), lit(s" $p1$p2 "))
    }
    words.select(col(id), size(split(trim(encoded), "  ")).as("n_sym"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
  }

  /** Quality score: length term (saturating at 200 words), stopword-ratio
    * term, and mean-word-length sanity band. Output columns rounded for
    * engine-portable comparison. */
  def qualityScore(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      length(col(text)).as("n_chars"),
      filter(split(col(text), " "), t => t =!= "").as("toks"))
      .select(col(id), col("n_chars"),
        size(col("toks")).as("n_words"),
        size(filter(col("toks"), t => array_contains(stopArr, t))).as("stop_hits"),
        aggregate(transform(col("toks"), t => length(t)), lit(0), (a, v) => a + v).as("tok_chars"))
      .withColumn("mean_word_len",
        round(when(col("n_words") > 0, col("tok_chars").cast("double") / col("n_words"))
          .otherwise(0.0), 4))
      .withColumn("stop_ratio",
        round(when(col("n_words") > 0, col("stop_hits").cast("double") / col("n_words"))
          .otherwise(0.0), 4))
      .withColumn("quality",
        // unrounded ratios inside (rounded ratios produce exact-decimal
        // ties where HALF_UP/HALF_EVEN engines disagree)
        round(
          least(col("n_words").cast("double") / 200.0, lit(1.0)) * 0.5 +
            least(when(col("n_words") > 0,
              col("stop_hits").cast("double") * 5.0 / col("n_words")).otherwise(0.0),
              lit(1.0)) * 0.3 +
            when(col("mean_word_len").between(3.0, 8.0), 0.2).otherwise(0.0), 4))
      .drop("tok_chars")

  /** Token counts: whitespace tokens, alpha runs, and a BPE-ish
    * pre-tokenizer (`[a-z]+|[0-9]+|punct-run`). */
  def tokenCounts(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      size(filter(split(col(text), " "), t => t =!= "")).as("n_ws_tokens"),
      size(expr(s"regexp_extract_all($text, '[a-z]+', 0)")).as("n_alpha_tokens"),
      size(expr(s"regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)")).as("n_bpe_tokens"),
      length(col(text)).as("n_chars"))

  /** Repetition signals (the Gopher-rule family: a high share of
    * repeated n-grams marks boilerplate/spam that length or stopword
    * ratios miss): per doc,
    *   - `dup_trigram_frac` — the fraction of trigram OCCURRENCES that
    *     belong to a trigram appearing more than once in the doc
    *     (Σ cnt over grams with cnt>1, over n_tokens−2), and
    *   - `top_bigram_frac`  — the share of bigram occurrences taken by
    *     the single most frequent bigram (tie → lexicographically
    *     greatest gram, so the argmax is a plain `max(struct)` partial
    *     aggregation in any engine — no window, no nondeterminism).
    * Docs too short for an n-gram score 0. Scale shape: one narrow
    * explode per n, then two partial-aggregated shuffles keyed by
    * (doc, gram) — per-doc vocabulary is bounded by doc length, so no
    * key is ever hotter than the longest document. */
  def repetitionSignals(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df
      .select(col(id), filter(split(col(text), " "), t => t =!= "").as("toks"))
      .select(col(id), col("toks"), size(col("toks")).as("n_tokens"))
    def gramCounts(n: Int) = toks
      .where(col("n_tokens") >= n)
      .select(col(id),
        explode(transform(sequence(lit(1), col("n_tokens") - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("gram"))
      .groupBy(col(id), col("gram")).agg(count(lit(1)).as("cnt"))
    val tri = gramCounts(3).groupBy(col(id))
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_occ"))
    val bi = gramCounts(2).groupBy(col(id))
      .agg(max(struct(col("cnt"), col("gram"))).as("top"))
      .select(col(id), col("top.cnt").as("top_cnt"), col("top.gram").as("top_bigram"))
    toks.select(col(id), col("n_tokens"))
      .join(tri, Seq(id), "left")
      .join(bi, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        round(when(col("n_tokens") >= 3,
          coalesce(col("dup_occ"), lit(0L)).cast("double") / (col("n_tokens") - 2))
          .otherwise(0.0), 4).as("dup_trigram_frac"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        round(when(col("n_tokens") >= 2,
          coalesce(col("top_cnt"), lit(0L)).cast("double") / (col("n_tokens") - 1))
          .otherwise(0.0), 4).as("top_bigram_frac"))
  }

  /** Per-doc-token counts (id, token, cnt) over lowercased alpha runs —
    * the shared first stage of the corpus-LM ops below: ONE narrow
    * explode, then a (doc, gram)-keyed partial aggregation whose key
    * cardinality per doc is bounded by doc length (the repetitionSignals
    * argument — no corpus-hot keys). */
  private def docTokenCounts(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      explode(expr(s"regexp_extract_all(lower($text), '[a-z]+', 0)")).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("cnt"))

  /** Unigram-LM surprisal scoring (the n-gram-model quality filter every
    * production curation stack runs — CCNet/KenLM's cheapest honest
    * stand-in): build the corpus unigram model, then score each doc by
    * its total and mean token surprisal under it,
    *   s(t) = ⌊scale · ln(N / cnt_t)⌋   (N = corpus token occurrences).
    * Each term floors to an exact integer BEFORE the per-doc sum, so
    * totals are partition-order-free and hash-exact cross-engine (the
    * adamicAdar integer idiom; ln and double division are IEEE-identical
    * in both engines). Low mean surprisal ⇒ repetitive/templated text;
    * high ⇒ rare-token noise — both tails are what the filter cuts.
    *
    * Scale shape: one explode feeding (doc,token) partials, a
    * vocabulary-sized model table (≤ a few 10^6 rows at any corpus size —
    * runtime-broadcastable) joined back on token, one per-doc partial
    * aggregation. Self-scoring (model built on the scored corpus) means
    * every token is in-vocabulary by construction; scoring NEW text
    * against this model is the same join plus a fixed OOV surprisal for
    * the misses. Output: (id, n_lm_tokens, surprisal_sum,
    * mean_surprisal = sum div n) — zero-token docs kept at 0. */
  def lmSurprisal(df: DataFrame, id: String, text: String,
      scale: Long = 1000000L): DataFrame = {
    val dt = docTokenCounts(df, id, text)
    val model = dt.groupBy(col("token")).agg(sum(col("cnt")).as("gcnt"))
    val total = model.agg(sum(col("gcnt")).as("n"))
    val scored = dt.join(model, "token")
      .crossJoin(broadcast(total))
      .select(col(id),
        col("cnt"),
        (floor(lit(scale.toDouble) * log(col("n").cast("double") / col("gcnt"))) *
          col("cnt")).as("s"))
      .groupBy(col(id))
      .agg(sum(col("cnt")).as("n_lm_tokens"), sum(col("s")).as("surprisal_sum"))
    df.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_lm_tokens"), lit(0L)).as("n_lm_tokens"),
        coalesce(col("surprisal_sum"), lit(0L)).as("surprisal_sum"),
        when(col("n_lm_tokens").isNotNull,
          expr("surprisal_sum div n_lm_tokens")).otherwise(lit(0L)).as("mean_surprisal"))
  }

  /** Corpus vocabulary build: tokens with global count ≥ `minCount`,
    * top `maxVocab` by (count desc, token asc). The ranking is global
    * over a vocabulary-sized table, so orderBy+limit plans a
    * TakeOrderedAndProject (per-partition top-K, no single-node sort of
    * the corpus). Output: (token, cnt). */
  def buildVocab(df: DataFrame, id: String, text: String,
      minCount: Long, maxVocab: Int): DataFrame = {
    require(minCount >= 1 && maxVocab >= 1, "buildVocab: need minCount, maxVocab >= 1")
    docTokenCounts(df, id, text)
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(maxVocab)
  }

  /** Per-doc out-of-vocabulary rate against a `vocab` (the `buildVocab`
    * shape, or any (token, …) table): the fraction of token OCCURRENCES
    * not covered — the standard "will the tokenizer shred this doc"
    * curation signal. One left join of the (doc,token) partials against
    * the vocabulary-sized (broadcastable) vocab, one per-doc partial
    * aggregation. Zero-token docs score 0. */
  def oovRate(df: DataFrame, vocab: DataFrame, id: String, text: String): DataFrame = {
    val dt = docTokenCounts(df, id, text)
    val scored = dt
      .join(vocab.select(col("token"), lit(1).as("_inv")), Seq("token"), "left")
      .groupBy(col(id))
      .agg(sum(col("cnt")).as("n_lm_tokens"),
        sum(when(col("_inv").isNull, col("cnt")).otherwise(0L)).as("oov_occ"))
    df.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_lm_tokens"), lit(0L)).as("n_lm_tokens"),
        coalesce(col("oov_occ"), lit(0L)).as("oov_occ"),
        round(when(col("n_lm_tokens").isNotNull,
          col("oov_occ").cast("double") / col("n_lm_tokens")).otherwise(0.0), 4)
          .as("oov_rate"))
  }

  /** Skip-gram PMI co-occurrence pairs — the word-embedding prep table
    * (word2vec/GloVe both factorize exactly this statistic): for token
    * pairs co-occurring within `window` positions,
    *   pmi = ln( (c_ab·T·T) / (P·c_a·c_b) )
    * with c_ab the pair count, c_a/c_b unigram counts, T total tokens,
    * P total pair occurrences. Pairs are UNORDERED ((least, greatest) —
    * symmetric context), generated linearly: each position pairs with
    * the `window` positions AHEAD via a sequence-explode + equi-join on
    * (doc, position) — n·window rows, never doc-quadratic. The ln rides
    * one identical IEEE expression tree in both engines (the
    * `tfIdfTerms` precedent), so rounded PMIs hash-compare. Counts stay
    * exact longs; the divisions happen once, in doubles, inside the ln.
    *
    * Scale shape: two partial-aggregated shuffles (pair counts, unigram
    * counts); T and P are single-row aggregates OVER THOSE COUNT TABLES
    * (never a second corpus pass) broadcast back; the final cut is a
    * TakeOrderedAndProject over the vocabulary²-bounded scored table.
    * Output: (tok_a, tok_b, n_pair, pmi), top `topK` by
    * (pmi desc, tok_a, tok_b). */
  def pmiPairs(df: DataFrame, id: String, text: String, window: Int = 3,
      minPairCount: Long = 3L, topK: Int = 100): DataFrame = {
    require(window >= 1 && minPairCount >= 1L && topK >= 1,
      "pmiPairs: need window, minPairCount, topK >= 1")
    val toks = df.select(col(id).as("doc"),
      posexplode(expr(s"regexp_extract_all($text, '[a-z]+', 0)"))
        .as(Seq("pos", "tok")))
    val right = toks.select(col("doc"), col("pos").as("pos2"), col("tok").as("tok2"))
    val pairCnt = toks
      .select(col("doc"), col("tok"),
        explode(sequence(col("pos") + 1, col("pos") + window)).as("pos2"))
      .join(right, Seq("doc", "pos2"))
      .select(least(col("tok"), col("tok2")).as("tok_a"),
        greatest(col("tok"), col("tok2")).as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_pair"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val t = uni.agg(sum(col("n_tok")).as("n_total"))
    val p = pairCnt.agg(sum(col("n_pair")).as("n_pairs"))
    pairCnt.where(col("n_pair") >= minPairCount)
      .join(uni.select(col("tok").as("tok_a"), col("n_tok").as("n_a")), Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("n_tok").as("n_b")), Seq("tok_b"))
      .crossJoin(broadcast(t)).crossJoin(broadcast(p))
      .select(col("tok_a"), col("tok_b"), col("n_pair"),
        round(log(
          (col("n_pair").cast("double") * col("n_total") * col("n_total")) /
            (col("n_pairs").cast("double") * col("n_a") * col("n_b"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(topK)
  }

  /** Positional fingerprint: Σ h32(token_i) · ((i mod 997)+1) mod 1e9+7,
    * h32 = first 8 md5 hex chars as int. Order-sensitive (a permuted doc
    * fingerprints differently) yet associative-safe for distributed sum. */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), posexplode(split(col(text), " ")).as(Seq("i", "token")))
      .where(col("token") =!= "")
      .withColumn("h32", conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
      .groupBy(col(id))
      .agg((sum(col("h32") * (pmod(col("i"), lit(997)) + 1)) % 1000000007L).as("fingerprint"))
}
