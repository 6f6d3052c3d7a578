package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.Stage.StagedFrame

/** Text-analysis operators for large-scale corpus pipelines: language
  * identification, quality scoring, token counting, fingerprinting.
  * The reference's corpus-ETL flow (apps/etl/etl_slimpajama_dc_proc.py)
  * filters on word counts and near-duplicate structure; these operators
  * extend that family with the standard pretraining-data signals.
  *
  * Everything is a pure Catalyst expression (codegen'd, no UDFs): at
  * 100 TB the per-row cost dominates, and expression trees keep the
  * whole scan→filter→project pipeline in one WholeStageCodegen span
  * with column pruning reaching the parquet reader.
  */
object Text {

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately small and deterministic —
    * the point is the operator shape (vectorizable membership counting
    * + argmax), not linguistic coverage; swap in real profiles at
    * deployment.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "ein"))

  private def words(text: Column): Column = split(lower(text), " ")

  /** Deterministic multi-byte transliteration for the `*_unicode`
    * differential gates (VERDICT r11 #2): lowercase ASCII vowels map
    * to multi-byte LETTERS — 2-byte Greek/Cyrillic/Latin-1 plus one
    * SUPPLEMENTARY-PLANE codepoint (𝕠, U+1D560 — a surrogate PAIR in
    * the JVM's UTF-16, the exact width class where code-unit vs
    * codepoint bugs live). Every target is category Ll and fixed
    * under both Java full case mapping and utf8proc simple mapping,
    * so `lower()` composes identically on both engines; plain
    * byte-exact `replace` chains (no regex, no case classes) make the
    * corpus transform itself trivially engine-identical.
    */
  val UniVowelMap: Seq[(String, String)] = Seq(
    "a" -> "α", "e" -> "е", "i" -> "ï", "o" -> "𝕠", "u" -> "ü")

  /** The transliteration as a Column (chained byte-exact replaces). */
  def uniTranslit(c: Column): Column =
    UniVowelMap.foldLeft(c) { case (acc, (f, t)) =>
      call_function("replace", acc, lit(f), lit(t))
    }

  /** The same transliteration as a SQL expression over `inner`. */
  def uniTranslitSql(inner: String): String =
    UniVowelMap.foldLeft(inner) { case (acc, (f, t)) =>
      s"replace($acc, '$f', '$t')"
    }

  /** Stopword hits for one profile over a lowercased word array. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(words(text), w => w.isin(stopwords: _*)))

  /** Language-ID: argmax of per-profile stopword hit counts; ties go to
    * profile order (en > es > de); zero hits everywhere → "und".
    * A deterministic scalar expression, so Catalyst can push the
    * computation next to the scan and the oracle can reproduce it.
    */
  def langId(text: Column): Column = {
    // Argmax by struct ordering (hits, rank, lang): each profile's hit
    // count is evaluated exactly once. A when-chain referencing the
    // counts multiple times inlines the filter lambda ~8×, which blew
    // generated-code size to a 16 s Janino compile per task — at 1000
    // executors that's recompiled everywhere, so expression-tree size
    // is a real scale concern, not cosmetics.
    // "und" rides along as a rank-4 zero-hit entry: it wins ties only
    // when every profile scored 0 (positive hits always beat it).
    val entries = LangProfiles.zipWithIndex.map { case ((lang, sw), i) =>
      struct(
        stopwordHits(text, sw).as("hits"),
        lit(LangProfiles.size - i).as("rank"),
        lit(lang).as("lang"))
    } :+ struct(lit(0).as("hits"), lit(LangProfiles.size + 1).as("rank"),
        lit("und").as("lang"))
    array_max(array(entries: _*)).getField("lang")
  }

  /** Punctuation characters counted by the quality score. Explicit
    * class (not \p{Punct}) so Java regex and RE2 agree exactly.
    */
  val PunctClass = "[.,!?;:'\"()\\-]"

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, PunctClass, ""))

  /** Document quality score in [0,1] from cheap surface signals —
    * length band, punctuation ratio, stopword ratio, mean word length
    * (the standard pretraining-corpus heuristics, cf. Gopher/C4 rules).
    * All arithmetic in doubles with a fixed evaluation order; callers
    * should round before hash-comparison.
    */
  def qualityScore(text: Column): Column = {
    val nw = wordCount(text).cast("double")
    val len = length(text).cast("double")
    val meanWordLen = (len - (nw - 1)) / nw // chars excluding separators
    val punctRatio = punctCount(text).cast("double") / len
    val stopRatio =
      stopwordHits(text, LangProfiles.flatMap(_._2)).cast("double") / nw
    val lengthOk = when(nw >= 20 && nw <= 100000, 1.0).otherwise(0.0)
    val wordLenOk = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio <= 0.2, 1.0).otherwise(0.0)
    val stopSig = least(stopRatio * lit(5.0), lit(1.0))
    // empty text scores 0.0 OUTSIDE the formula: under ANSI mode the
    // punct-ratio division would abort the job on a zero-length doc
    // (fuzz class: the reference's INVALID_VALS, ""/whitespace docs),
    // while the DuckDB oracles' NULL-division already short-circuits
    // their CASE arms to exactly 0.0 — this guard makes Spark agree
    // without touching any oracle. nw ≥ 1 always (split("") = [""]),
    // so len is the only zero divisor.
    when(len === 0.0, 0.0).otherwise(
      lengthOk * 0.3 + wordLenOk * 0.2 + punctOk * 0.2 + stopSig * 0.3)
  }

  /** Pretraining-corpus text cleanup: drop URLs and e-mail addresses,
    * strip non-printable control characters, collapse whitespace runs,
    * trim. Patterns deliberately stay in the regex subset Java and
    * RE2 interpret identically so the oracle can mirror them.
    */
  val UrlPattern = """https?://[^ ]+"""
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val ControlPattern = """[\x00-\x08\x0b\x0c\x0e-\x1f]"""

  def cleanText(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlPattern, " ")
    val noMail = regexp_replace(noUrl, EmailPattern, " ")
    val noCtl = regexp_replace(noMail, ControlPattern, " ")
    trim(regexp_replace(noCtl, """\s+""", " "))
  }

  /** Context-window chunking: split a document into word chunks of
    * `chunkWords` with `strideWords` between chunk starts (stride <
    * chunk gives overlap). The standard pretraining prep for packing
    * long documents into bounded sequences, as a pure scan-time
    * expression — chunk assignment never shuffles. The tail chunk may
    * be shorter; docs shorter than one chunk yield themselves.
    */
  def wordChunks(text: Column, chunkWords: Int, strideWords: Int): Column = {
    val w = split(text, " ")
    // chunk starts at 0, stride, 2·stride, …, stopping at the FIRST
    // window that reaches the document end: lastStart =
    // ceil(max(nw - chunk, 0) / stride). Running starts all the way to
    // nw would emit tail chunks that are strict suffixes of the
    // previous chunk — measured 12.9 % duplicated chunks at sf0.1
    // (caught in review); a training-sequence packer must not see the
    // same tail twice. Non-negative double division cast to int
    // truncates = floor.
    val lastStart = ((greatest(size(w) - chunkWords, lit(0))
      + lit(strideWords - 1)) / lit(strideWords)).cast("int")
    transform(
      sequence(lit(0), lastStart),
      i => concat_ws(" ", slice(w, i * strideWords + lit(1), lit(chunkWords))))
  }

  /** Rolling polynomial fingerprint over words, mod 2^31-1 — a
    * content-defined document identity that is stable under
    * re-partitioning (left fold in array order) and cheap to compare.
    * h_i = (h_{i-1} * 31 + md5Long(word) mod M) mod M.
    */
  def rollingFingerprint(text: Column): Column = {
    val M = 2147483647L
    aggregate(
      words(text),
      lit(0L),
      (h, w) => pmod(h * lit(31L) + pmod(hash60(w), lit(M)), lit(M)))
  }

  /** Token-budget corpus selection — "take the best documents until
    * the token budget is spent", the final cut every pretraining-data
    * run makes. Contract: documents ranked by (scoreCol desc, idCol
    * asc); a document is kept iff its inclusive running token total
    * is ≤ budget.
    *
    * The naive formulation is a running sum over a GLOBAL sort of the
    * corpus — a single-partition window over every row, the
    * least-scalable plan Spark can produce. This implementation gets
    * the identical answer from the score HISTOGRAM: (1) aggregate
    * tokens per distinct score (map-side-combined, one shuffle of
    * |distinct scores| rows); (2) running-total the histogram — the
    * single-partition window touches only the histogram, whose size
    * is bounded by the score's value domain (a round-6 score ⇒ ≤1e6+1
    * rows) regardless of corpus size; (3) broadcast-join the
    * per-score {fully-in, out, boundary} status back to the corpus —
    * full scores pass with no window at all, and only the ONE
    * boundary score pays a per-document running sum, partitioned by
    * score (never global). REQUIRES a bounded-domain score column
    * (round it first) and a LongType-summable token column.
    *
    * The in/out split evaluates `df` twice (histogram pass + join
    * pass) — deliberate: the alternative (one pass + a per-score
    * window over every row) shuffles the corpus by score and a hot
    * score value recreates exactly the skewed single-partition window
    * this operator exists to avoid. When `df`'s lineage is expensive
    * (regex featurization), persist the projected (id, score, tokens)
    * frame before calling.
    *
    * NULL-score rows are EXCLUDED from the selection (the histogram
    * join is an equi-join, and SQL equality never matches NULL): an
    * un-scored document has no rank, and silently placing it would
    * let unscored data leak into a curated cut. Score what you want
    * considered — `coalesce(score, lit(0))` to rank unscored docs
    * last explicitly. Property-spec-pinned (PropertySpec).
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budget: Long): DataFrame = {
    val b = df.sparkSession.range(1).select(lit(budget).as("__budget"))
    tokenBudgetSelectScalar(df, idCol, scoreCol, tokensCol, b)
  }

  /** [[tokenBudgetSelect]] with the budget as a fraction of the
    * corpus' total tokens (computed as a broadcast 1-row aggregate —
    * stays lazy, no driver-side action).
    */
  def tokenBudgetFracSelect(df: DataFrame, idCol: String, scoreCol: String,
                            tokensCol: String, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    val b = df.agg(floor(sum(col(tokensCol)) * frac).cast("long")
      .as("__budget"))
    tokenBudgetSelectScalar(df, idCol, scoreCol, tokensCol, b)
  }

  /** Pointwise mutual information of ADJACENT token pairs — the
    * collocation detector ("new york", "machine learning") behind
    * phrase mining and tokenizer-vocabulary induction:
    *   PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    * with p(a,b) = c_ab/N_bigrams and p(a) = c_a/N_tokens.
    *
    * Scale shape: bigram generation is a scan-time array transform
    * (no self-join — each doc emits its own adjacent pairs), then two
    * count aggregates (unigram, bigram) and two hash joins of the
    * bigram counts against the unigram counts. The `minCount` support
    * floor is applied BEFORE the joins, so the joined frame carries
    * only candidate collocations, not the full bigram tail. Totals
    * ride along as broadcast 1-row frames. Top-k is a TakeOrdered on
    * (pmi desc, a, b) — deterministic because (a, b) is unique. The
    * PMI double is decimal-rounded to 6 places; its argument is
    * assembled in a fixed multiply/divide order so both engines see
    * identical IEEE arithmetic.
    */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long = 5,
                 topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad minCount=$minCount topK=$topK")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val toks = df.select(split(col(textCol), " ").as("__w"))
    val uni = toks.select(explode(col("__w")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val nTok = uni.agg(sum(col("__c")).as("__nt"))
    val bigrams = toks.select(explode(expr(
        "transform(slice(__w, 1, size(__w) - 1), " +
          "(x, i) -> struct(x AS a, __w[i + 1] AS b))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
    val bigCnt = bigrams.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
    val nBig = bigCnt.agg(sum(col("n_ab")).as("__nb"))
    bigCnt.where(col("n_ab") >= minCount)
      .join(uni.select(col("__tok").as("a"), col("__c").as("__ca")), "a")
      .join(uni.select(col("__tok").as("b"), col("__c").as("__cb")), "b")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab").cast("double") * col("__nt").cast("double") *
            col("__nt").cast("double")) /
          (col("__nb").cast("double") * col("__ca").cast("double") *
            col("__cb").cast("double"))).cast(dec), 6)
          .cast("double").as("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b")).limit(topK)
  }

  /** Corpus-adaptive boilerplate stripping: remove every token whose
    * DOCUMENT frequency exceeds `maxDocFrac` of the corpus, keeping
    * the remaining tokens in their original order. This is the
    * data-driven upgrade of a fixed stopword list — nav bars, license
    * headers, and template phrases identify themselves by appearing
    * in "too many" documents, whatever the domain's vocabulary is.
    *
    * Scale shape: one explode of DISTINCT per-doc tokens for the df
    * aggregate, then a BROADCAST anti-join of the positional token
    * stream against the boilerplate set, then one shuffle on doc id
    * to reassemble. The broadcast is provably bounded: postings total
    * at most N·L (L = mean distinct tokens/doc), so at most L/frac
    * tokens can each appear in more than frac·N docs — corpus size
    * cancels; only doc LENGTH and the threshold matter. Reassembly
    * sorts each doc's own (pos, token) structs — per-row state is one
    * document, never a window over the corpus.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       maxDocFrac: Double): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac < 1, s"maxDocFrac: $maxDocFrac")
    val w = df.select(col(idCol).as("__id"), split(col(textCol), " ").as("__w"))
    val nDocs = w.agg(count(lit(1)).as("__nd"))
    val bp = w.select(explode(array_distinct(col("__w"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df").cast("double") >
        lit(maxDocFrac) * col("__nd").cast("double"))
      .select(col("tok"))
    val kept = w.select(col("__id"),
        posexplode(col("__w")).as(Seq("__i", "tok")))
      .join(broadcast(bp), Seq("tok"), "left_anti")
    val agg = kept.groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__i"), col("tok")))).as("__s"))
      .select(col("__id"),
        concat_ws(" ", expr("transform(__s, x -> x.tok)")).as("clean_text"),
        size(col("__s")).cast("long").as("n_kept"))
    // left join back so fully-boilerplate docs survive as empty text
    w.join(agg, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (size(col("__w")).cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Word n-grams of a text column as an array of space-joined strings
    * (positions kept — callers distinct() if they want the set). Docs
    * shorter than n yield an empty array.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Cross-document duplicated-span detection — the ExactSubstr family
    * of training-data dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"; reference's corpus flow
    * etl_slimpajama_dc_proc.py:119-166 stops at document granularity).
    * The paper builds a corpus suffix array — inherently single-machine
    * — this is the standard distributed re-formulation: hash every
    * k-token window, a window hash seen in ≥2 DISTINCT documents marks
    * its k positions duplicated, and overlapping/adjacent duplicated
    * windows merge into maximal spans (gaps-and-islands). Any
    * cross-document duplicated run of ≥ k tokens is recovered exactly
    * (a run of length L ≥ k is covered by its L−k+1 windows, all
    * shared); runs < k are invisible — k is the paper's min-match
    * length knob, not an approximation dial.
    *
    * Returns one row per maximal span: (idCol, span_start, span_end),
    * 0-based token positions, inclusive.
    *
    * Scale shape: the gram stream is one scan-side posexplode (rows =
    * corpus token count; md5 per window under oracle hash mode,
    * xxhash64 at deployment — see [[graft.functions.GraftFunctions.hash60]]);
    * cross-doc detection is one shuffle on the window hash with
    * min≠max(id) standing in for COUNT(DISTINCT) ≥ 2 (no distinct
    * expansion, map-side combined to one row per hash per partition);
    * the island merge is one shuffle on doc id with a window whose
    * frame is bounded by the document's own length. The gram lineage
    * is evaluated twice (duplicate-hash set + hit positions) — a
    * deliberate recompute: materializing a corpus-token-sized frame
    * costs more than re-running a codegen'd scan projection.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    dupSpansImpl(docs, idCol, textCol, k, canonicalKeep = false)

  /** [[duplicatedSpans]] under the keep-first-occurrence rule: a
    * position is in a span only if some covering duplicated window
    * also appears in a SMALLER-id document — so the lowest-id holder
    * of each duplicated run keeps it, and the spans returned here are
    * exactly what an ExactSubstr cutting pass deletes (Lee et al.
    * remove all but one occurrence; lowest-id is the deterministic
    * pick, the same canonical rule as the LSH dedup family).
    */
  def duplicatedSpansToCut(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    dupSpansImpl(docs, idCol, textCol, k, canonicalKeep = true)

  private def dupSpansImpl(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, canonicalKeep: Boolean): DataFrame = {
    // Native one-pass window-hash kernel (no lambda expressions — they
    // are interpreted and excluded from codegen CSE; the kernel cut
    // this query 5.7 s → ~2 s at sf0.1). Short docs → empty array →
    // no gram rows, mirroring the oracle's WHERE len(w) >= k.
    val grams = docs
      .select(col(idCol),
        posexplode(Similarity.gramHashesAll(col(textCol), k))
          .as(Seq("pos", "h")))
    val dup = grams.groupBy(col("h"))
      .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col("h"), col("mn"))
    val joined = grams.join(dup, Seq("h"))
    val hits = (if (canonicalKeep) joined.where(col(idCol) > col("mn"))
                else joined)
      .select(col(idCol), col("pos"))
    val win = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(win.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(win))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .drop("island")
  }

  /** Per-document entropy/repetition signals complementing the
    * dup-word / top-bigram pair in text_repetition — the remaining
    * published pretraining heuristics for machine-generated or
    * boilerplate text:
    *   word_entropy     Shannon entropy (bits) of the doc's word
    *                    distribution (low ⇒ repetitive/TEMPLATED)
    *   dup_trigram_frac fraction of trigram OCCURRENCES whose trigram
    *                    appears more than once in the doc
    * Docs with fewer than 3 words report dup_trigram_frac = 0.0.
    *
    * Scale shape: two explode→hash-agg pipelines (words, trigrams),
    * each grouping on (doc_id, 60-bit gram hash) with map-side partial
    * aggregation — an 8-byte shuffle key, no gram string enters the
    * plan (same featurizer as text_repetition) — reduced to one row
    * per doc and joined on doc_id. No windows, no driver state.
    *
    * Determinism: entropy decomposes as log2(n) − (Σ c·log2 c)/n, so
    * the per-gram terms need no per-doc total — each rounds to
    * DECIMAL(18,8) before the decimal sum (addition-order-independent
    * across partitionings and engines); the final ratios use the
    * decimal-quotient pattern shared with ops/Cost.
    *
    * Note: signals are computed over the 60-bit word-gram hash (the
    * text_repetition / decontaminate convention), so distinct words
    * that collide merge counts — engine-consistent (both engines share
    * the featurizer) but an approximation of true word entropy.
    */
  def entropySignals(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.types.DecimalType
    val dec8 = DecimalType(18, 8)
    def grams(n: Int) = column(graft.expressions.WordShingleHashes(
      expression(col(textCol)), n, distinct = false, xx = hashModeIsXx))
    def perGram(n: Int) =
      df.select(col(idCol), explode(grams(n)).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    val ent = perGram(1)
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n"),
        sum((col("c").cast("double") * log2(col("c").cast("double")))
          .cast(dec8)).as("sclc"))
      .select(col(idCol),
        round((log2(col("n").cast("double")) -
          col("sclc").cast("double") / col("n").cast("double"))
          .cast(dec8), 6).cast("double").as("word_entropy"))
    val tri = perGram(3)
      .groupBy(col(idCol))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"),
        sum(col("c")).as("tot"))
      .select(col(idCol),
        round((col("dup").cast(DecimalType(18, 6)) / col("tot"))
          .cast(dec8), 6).cast("double").as("dup_trigram_frac"))
    ent.join(tri, Seq(idCol), "left")
      .select(col(idCol), col("word_entropy"),
        coalesce(col("dup_trigram_frac"), lit(0.0)).as("dup_trigram_frac"))
      .orderBy(col(idCol))
  }

  /** Eval-set decontamination: for each training document, count the
    * distinct word n-grams it shares with ANY document of an
    * evaluation split, and how many distinct eval documents it
    * collides with. The standard pre-training hygiene step — eval
    * benchmarks leak into web-scale corpora, and n-gram collision
    * (typically 8-13 grams; parameterized here) is the published
    * detection recipe. Only contaminated docs are returned; the
    * complement (an anti-join on the result) is the clean corpus.
    *
    * Scale shape: the eval split is small by construction (benchmarks
    * are thousands of docs, the corpus is billions), so its distinct
    * hashed n-grams BROADCAST to the train scan — the train side is
    * one scan + explode + broadcast hash join + ONE shuffle on doc id
    * for the per-doc counts. N-grams join on the 60-bit mode hash
    * (md5 default — DuckDB-reproducible; xxhash64 at deployment), so
    * the broadcast ships ~8 bytes per eval n-gram, not strings: a
    * 10k-doc eval split is a few MB against any corpus size.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    broadcastMaxEvalDocs: Long = 1000000L): DataFrame = {
    // native one-pass gram-hash kernel (r13): the lambda form
    // (explode(wordNgrams) + hash60 per gram string) is interpreted —
    // lambdas are excluded from codegen and re-evaluate the shared
    // split per element (the r2/r8 kernel lesson); WordShingleHashes
    // emits the bit-identical 60-bit hashes (same split/join/md5
    // convention, MinHashStreamSpec-pinned) in one codegen'd pass
    // with no gram strings in the plan.
    def hashed(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        explode(graft.ops.Similarity.gramHashesAll(col(textCol), n))
          .as("__h"))
    val ev = hashed(eval, "__eval_id").distinct()
    // The broadcast hint is only safe for the benchmark-sized eval
    // split the docstring assumes; the API is general, so gate it on
    // a counted bound (one cheap scan of the eval split) and above it
    // let AQE pick the join strategy instead of blowing driver /
    // executor memory on a forced broadcast of a corpus-sized "eval".
    val evJoin = if (eval.count() <= broadcastMaxEvalDocs) broadcast(ev) else ev
    hashed(train, idCol)
      .join(evJoin, Seq("__h"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__h")).as("n_ngrams_hit"),
        countDistinct(col("__eval_id")).as("n_eval_docs"))
      .orderBy(desc("n_ngrams_hit"), col(idCol))
  }

  /** BPE merge induction — the first `rounds` merge steps of
    * byte-pair-encoding vocabulary training (Sennrich et al. 2016)
    * over the corpus word vocabulary: count adjacent symbol pairs
    * weighted by word frequency, merge the most frequent pair
    * (ties broken lexicographically so every engine picks the same
    * pair), repeat. Returns one row per round: the merged pair, its
    * weighted count, and the symbol-inventory size after the merge —
    * the trajectory a tokenizer trainer logs.
    *
    * Representation: a word's symbol sequence is a string with every
    * symbol wrapped in pipes ("ab" → "|a||b|"), so a merge is a plain
    * leftmost-non-overlapping `replace("|a||b|" → "|ab|")` — adjacent
    * occurrences share no boundary characters, which makes replace()
    * exactly BPE's leftmost-first merge on BOTH engines. Words are
    * restricted to `[A-Za-z0-9]+` so the delimiter cannot collide.
    *
    * Scale shape: ONE corpus scan builds the word-count vocabulary,
    * capped at `topWords` rows (count-desc, word-asc — the standard
    * trainer cap) and checkpointed; every round thereafter runs on
    * that bounded frame. The per-round driver state is the single
    * argmax pair row (the same bounded-collect contract as the
    * quantile bracketer); merges apply as scan-time expressions.
    */
  def bpeMergeRounds(df: DataFrame, textCol: String, rounds: Int,
                     topWords: Int,
                     wordPattern: String = "^[A-Za-z0-9]+$"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = df.sparkSession
    val vocab0 = df
      .select(explode(split(col(textCol), " ")).as("w"))
      // the pattern must admit only letters/digits (never quotes or
      // pipes) — merged symbols are spliced into replace() literals
      .where(col("w").rlike(wordPattern))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(topWords)
      .select(concat(lit("|"),
        array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
          "||"), lit("|")).as("s"), col("cnt"))
      .stageCheckpoint(true)
    val symsOf = "split(substring(s, 2, length(s) - 2), '\\\\|\\\\|')"
    var cur = vocab0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = cur.select(col("cnt"), expr(symsOf).as("arr"))
        .where(size(col("arr")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(arr) - 1), i -> struct(arr[i - 1] AS a, arr[i] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b")).limit(1)
        .collect() // bounded: exactly one row
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pc) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        // Injection guard (ADVICE r12): the comment above states the
        // wordPattern precondition, but nothing enforced it — a
        // caller-supplied pattern admitting ' or | would let a corpus
        // word break out of the replace() SQL literal below. The
        // symbols spliced are exactly these two driver-collected
        // strings (and their concatenations in later rounds), so
        // validating them HERE is airtight regardless of the pattern.
        Seq(a, b).foreach { sym =>
          require(!sym.exists(ch => ch == '\'' || ch == '|' || ch == '\\'),
            s"bpeMergeRounds: wordPattern admitted a symbol unsafe to " +
              s"splice into a SQL literal: ${sym.take(40)}")
        }
        cur = cur
          .withColumn("s", expr(s"replace(s, '|$a||$b|', '|$a$b|')"))
          .stageCheckpoint(true)
        val nSyms = cur.select(explode(expr(symsOf)).as("sym"))
          .distinct().count()
        out += ((r, a, b, pc, nSyms))
      }
      r += 1
    }
    import spark.implicits._
    out.toSeq
      .toDF("round", "pair_a", "pair_b", "pair_count", "n_symbols")
      .orderBy(col("round"))
  }

  /** Pairwise source-overlap matrix: n-gram Jaccard similarity
    * between every pair of sources — the corpus-health view that
    * catches mirrored dumps, cross-listed crawls, and source-label
    * leakage BEFORE they skew a mixture (decontaminate is the
    * train-vs-eval special case; this is all-pairs over mixture
    * components).
    *
    * Exactness contract: grams are θ-SAMPLED by hash residue
    * (h % sampleMod == 0) — a deterministic bottom-sample both
    * engines replay identically, so the reported Jaccard is the exact
    * Jaccard OF THE SAMPLE (an unbiased estimate of the true one,
    * error ~ 1/√(sampled grams)). That keeps the distinct
    * (source, gram) shuffle at corpus-grams/sampleMod rows — the dial
    * that makes all-pairs overlap affordable at 100 TB.
    *
    * Scale shape: one scan → sampled distinct (source, gram); sizes
    * are one bounded aggregate; the gram self-join fans out only on
    * grams shared by ≥2 sources and the pair aggregate is bounded by
    * sources². Pairs with zero shared sampled grams are omitted.
    */
  def sourceOverlapMatrix(df: DataFrame, srcCol: String, textCol: String,
                          n: Int, sampleMod: Long): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    def r6(c: Column) = round(c.cast(dec), 6).cast("double")
    // localCheckpoint: three consumers (sizes + both self-join legs)
    // read the sampled gram set — O(corpus grams / sampleMod) rows.
    // native gram-hash kernel instead of the interpreted
    // explode(wordNgrams)+hash60 lambda chain — bit-identical hashes,
    // one codegen'd pass (r13; profiled 2.0 s of the query's 2.9 s
    // in this scan at sf0.1)
    val sg = df.select(col(srcCol).as("source"),
        explode(graft.ops.Similarity.gramHashesAll(col(textCol), n))
          .as("__h"))
      .where(col("__h") % sampleMod === 0)
      .distinct()
      .stageCheckpoint(true)
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val shared = sg.as("a")
      .join(sg.as("b"), col("a.__h") === col("b.__h") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("__n").as("__na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("__n").as("__nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        r6(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")).cast("double"))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Source-mixture reweighting toward a UNIFORM token budget — the
    * first-order version of trained mixture weighting (DoReMi-style
    * pipelines start exactly here): per source, its observed token
    * share, and the sampling weight target_share / actual_share that
    * equalizes the mixture (weight > 1 ⇒ upsample, < 1 ⇒ downsample).
    *
    * Scale shape: token counting is a scan-time expression, then ONE
    * hash aggregate on source; the corpus totals ride a broadcast
    * 1-row frame. The ratios are fixed-shape IEEE divisions of exact
    * BIGINT counts — reproducible anywhere.
    */
  def sourceReweight(df: DataFrame, srcCol: String,
                     textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val per = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("__total"),
      count(lit(1)).as("__ns"))
    def r6(c: Column) = round(c.cast(dec), 6).cast("double")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r6(col("n_tokens").cast("double") / col("__total").cast("double"))
          .as("actual_frac"),
        r6(col("__total").cast("double") /
          (col("__ns").cast("double") * col("n_tokens").cast("double")))
          .as("weight"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source mixture (the α-sampling rule behind
    * multilingual pretraining mixtures, e.g. mT5/XLM-R): the sampling
    * share of source i is q_i = p_i^α / Σ_j p_j^α where p_i is the
    * observed token share. α = 1 keeps the natural mixture, α → 0
    * flattens toward uniform; the per-source resampling weight is
    * q_i / p_i. [[sourceReweight]] is the α = 0 (uniform-target)
    * special case; this is the dial between them.
    *
    * Scale shape: one corpus aggregate to per-source token counts,
    * then two broadcast-sized aggregates over the source table (p^α
    * normalizer) — the corpus is scanned once. Each p_i^α rounds to
    * 6dp before the decimal normalizer sum so the result is
    * addition-order-independent and engine-portable (pow of identical
    * doubles, one IEEE division per output).
    */
  def temperatureReweight(df: DataFrame, srcCol: String, textCol: String,
                          alpha: Double): DataFrame =
    temperatureReweightCounts(
      df.groupBy(col(srcCol).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens")),
      alpha)

  /** [[temperatureReweight]] over a PRECOMPUTED per-source count
    * frame (source, n_docs, n_tokens) — the composition seam: a
    * pipeline that has already pruned/adjusted its token mass (e.g.
    * ExactSubstr-cut counts) reweights the surviving mass, not the
    * raw text.
    */
  def temperatureReweightCounts(per0: DataFrame, alpha: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    def r6(c: Column) = round(c.cast(dec), 6).cast("double")
    // localCheckpoint: three consumers (total, normalizer, final
    // select) read this O(sources) aggregate — without it each re-runs
    // the corpus scan. Blocks are executor-local and trivially small.
    val per = per0.stageCheckpoint(true)
    val tot = per.agg(sum(col("n_tokens")).as("__total"))
    val withP = per.crossJoin(broadcast(tot))
      .withColumn("actual_frac",
        r6(col("n_tokens").cast("double") / col("__total").cast("double")))
      .withColumn("__pa",
        r6(pow(col("n_tokens").cast("double") / col("__total").cast("double"),
          lit(alpha))))
    val z = withP.agg(sum(col("__pa").cast(dec)).as("__z"))
    withP.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("actual_frac"),
        r6(col("__pa") / col("__z").cast("double")).as("temp_frac"),
        r6((col("__pa") / col("__z").cast("double")) / col("actual_frac"))
          .as("weight"))
      .orderBy(col("source"))
  }

  /** Token-balanced curriculum shards: order documents by a
    * deterministic difficulty key (centichars-per-token — integer
    * mean word length × 100, the cheap surface proxy curricula start
    * from; swap in any integer difficulty column) and cut the ordered
    * corpus into `numShards` shards of EQUAL TOKEN MASS, not equal
    * row count — epoch k of a curriculum schedule then trains on
    * shards 0..k. ntile() would balance rows (and needs a global
    * sort); token-balanced cuts need the running token sum, computed
    * here without any global ordering:
    *
    *  - per-document within-bucket prefix sums run under a window
    *    PARTITIONED by the integer difficulty value (parallel, no
    *    single-partition stage);
    *  - bucket-level offsets come from a window over the bucket
    *    TOTALS frame — bounded by distinct difficulty values
    *    (≤ 100 × max word length, a few thousand rows), the same
    *    bounded-frame discipline as the score-histogram windows;
    *  - shard id = floor(tokens_before × K / total) in pure BIGINT
    *    arithmetic — exact on every engine, no IEEE anywhere.
    *
    * Output is the per-shard report (docs, tokens, difficulty range);
    * the row-level shard assignment is the same frame before the
    * final aggregate.
    */
  def curriculumShards(df: DataFrame, idCol: String, textCol: String,
                       charsCol: String, numShards: Int): DataFrame = {
    val d = df.select(col(idCol).as("__id"),
        size(split(col(textCol), " ")).cast("long").as("__nw"),
        col(charsCol).cast("long").as("__nc"))
      .withColumn("__diff", expr("(__nc * 100) div __nw"))
    curriculumShardAssign(d, "__id", "__nw", "__diff", numShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("n_tokens"),
        min(col("__diff")).as("min_cpt"), max(col("__diff")).as("max_cpt"))
      .orderBy(col("shard"))
  }

  /** The per-document shard assignment under [[curriculumShards]]'s
    * token-balanced cut, exposed for compositions that need to carry
    * other per-doc columns (source, weights) into the shard rollup:
    * returns the input rows plus a `shard` column. `tokCol` is the
    * token MASS being balanced (may be an adjusted/pruned count) and
    * `diffCol` the integer difficulty key; both are caller-computed,
    * so the same bucket-offset prefix decomposition serves raw and
    * post-prune pipelines alike.
    */
  def curriculumShardAssign(df: DataFrame, idCol: String, tokCol: String,
                            diffCol: String, numShards: Int): DataFrame = {
    val win = Window.partitionBy(col(diffCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = df.withColumn("__cumin",
      sum(col(tokCol)).over(win) - col(tokCol))
    // localCheckpoint: offsets AND the grand total both derive from
    // the bucket-totals frame (bounded: one row per distinct integer
    // difficulty), so the corpus scans twice (window pass + this
    // aggregate), never three times.
    val bt = df.groupBy(col(diffCol)).agg(sum(col(tokCol)).as("__bt"))
      .stageCheckpoint(true)
    // bounded frame: one row per distinct integer difficulty value
    val wb = Window.orderBy(col(diffCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bt.select(col(diffCol),
      coalesce(sum(col("__bt")).over(wb), lit(0L)).as("__off"))
    val tot = bt.agg(sum(col("__bt")).as("__total"))
    inBucket.join(broadcast(off), diffCol).crossJoin(broadcast(tot))
      .withColumn("__cumb", col("__off") + col("__cumin"))
      .withColumn("shard",
        expr(s"(__cumb * ${numShards.toLong}L) div __total"))
      .drop("__cumin", "__off", "__cumb", "__total")
  }

  /** Per-slice distribution drift vs the WHOLE corpus: the
    * Jensen-Shannon divergence between each slice's unigram token
    * distribution and the global one — the mixture-health telemetry
    * that says WHICH source is lexically atypical (PSI/KS in
    * ops/Drift compare two numeric samples; this compares
    * categorical token distributions, the thing a pretraining
    * mixture actually drifts in). JS rather than KL because it is
    * symmetric, bounded by ln 2, and defined even where a slice is
    * missing a token.
    *
    * Distributions are restricted to the global top-`vocabK` tokens
    * plus ONE out-of-vocab bucket holding all remaining mass — the
    * 100 TB contract: per-slice work after the first aggregate is
    * bounded by slices × vocabK regardless of corpus vocabulary, and
    * both distributions still sum to exactly 1 so the divergence is
    * a true JS value, not a truncated approximation. Tokens the
    * slice lacks contribute their q·ln(q/m) half (p = 0 kills the
    * other half); the OOV bucket can be empty on both sides (term
    * 0).
    *
    * Scale shape: ONE corpus scan into a (slice, token) count
    * aggregate; the global vocabulary, per-slice totals, and the
    * slices × vocabK grid all derive from that aggregate — nothing
    * re-reads the corpus. Per-term p, q, m are IEEE ratios of exact
    * BIGINT counts (identical on any engine); each term rounds to
    * 6dp and sums as DECIMAL so the per-slice total is
    * addition-order-independent.
    *
    * Returns (source, n_tokens, js_vs_corpus), one row per slice.
    */
  def jsDivergenceBySlice(df: DataFrame, sliceCol: String,
                          textCol: String, vocabK: Int = 400): DataFrame = {
    require(vocabK >= 1, s"vocabK must be >= 1: $vocabK")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    // localCheckpoint: SIX consumers read this aggregate (vocab,
    // totals, grid join, in-vocab counts, OOV remainder) — without it
    // each re-runs the corpus scan + (slice, token) shuffle (the plan
    // census measured 25 exchanges; checkpointed it is one corpus
    // pass and everything downstream is vocab-bounded). Blocks are
    // executor-local, O(slices × vocab), freed with the result.
    val base = df.select(col(sliceCol).as("source"),
        explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .stageCheckpoint(true)
    val glob = base.groupBy(col("t")).agg(sum(col("c")).as("cg"))
    val topv = glob.orderBy(col("cg").desc, col("t")).limit(vocabK)
    val tots = base.groupBy(col("source")).agg(sum(col("c")).as("tot_s"))
    val gtot = glob.agg(sum(col("cg")).as("tot_g"))
    val ing = topv.agg(sum(col("cg")).as("in_g"))
    val grid = tots.select(col("source")).crossJoin(broadcast(topv))
    val inb = base.join(broadcast(topv.select(col("t"))), Seq("t"),
      "left_semi")
    val cnt = grid.join(inb, Seq("source", "t"), "left")
      .select(col("source"), col("cg"), coalesce(col("c"), lit(0L)).as("cs"))
    val ins = cnt.groupBy(col("source")).agg(sum(col("cs")).as("in_s"))
    val oov = tots.join(ins, "source")
      .crossJoin(broadcast(gtot)).crossJoin(broadcast(ing))
      .select(col("source"), (col("tot_g") - col("in_g")).as("cg"),
        (col("tot_s") - col("in_s")).as("cs"))
    val rows = cnt.select(col("source"), col("cg"), col("cs"))
      .union(oov.select(col("source"), col("cg"), col("cs")))
    val withTot = rows.join(tots, "source").crossJoin(broadcast(gtot))
    val p = col("cs").cast("double") / col("tot_s").cast("double")
    val q = col("cg").cast("double") / col("tot_g").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      lit(0.5) * when(col("cs") === 0, lit(0.0)).otherwise(p * log(p / m)) +
      lit(0.5) * when(col("cg") === 0, lit(0.0)).otherwise(q * log(q / m))
    withTot
      .select(col("source"), col("tot_s"), round(term, 6).as("__term"))
      .groupBy(col("source"))
      .agg(max(col("tot_s")).as("n_tokens"),
        round(sum(col("__term").cast(dec)).cast(dec), 6).cast("double")
          .as("js_vs_corpus"))
      .orderBy(col("source"))
  }

  private def tokenBudgetSelectScalar(df: DataFrame, idCol: String,
                                      scoreCol: String, tokensCol: String,
                                      budgetDf: DataFrame): DataFrame = {
    val hist = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(col(tokensCol)).as("__bt"))
    // single-partition window BY DESIGN: it runs over the bounded
    // histogram, not the corpus (the WindowExec warning is expected
    // and harmless here)
    val wh = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val status = hist
      .withColumn("__cum", sum(col("__bt")).over(wh))
      .withColumn("__prev", col("__cum") - col("__bt"))
      .crossJoin(broadcast(budgetDf))
    val j = df.join(broadcast(status), col(scoreCol) === col("__s"))
    val full = j.where(col("__cum") <= col("__budget"))
    // only the boundary score's documents pay a per-row running sum,
    // and it partitions by score — never a global sort. __prev <= (not
    // <) budget: when the previous scores land EXACTLY on the budget,
    // zero-token documents at the boundary score still satisfy the
    // inclusive-running-total contract and must come through the
    // window branch (the property spec pins this with zero-token rows)
    val wb = Window.partitionBy(col("__s")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = j
      .where(col("__prev") <= col("__budget") && col("__cum") > col("__budget"))
      .withColumn("__run", sum(col(tokensCol)).over(wb) + col("__prev"))
      .where(col("__run") <= col("__budget"))
      .drop("__run")
    full.unionByName(boundary)
      .drop("__s", "__bt", "__cum", "__prev", "__budget")
  }

  /** Sequence packing by the HARMONIC class rule — fill fixed-size
    * context windows with whole documents so training batches aren't
    * mostly padding. True first-fit-decreasing is inherently
    * sequential (each placement depends on every bin's remaining
    * room); the harmonic rule is the distributed-friendly classic:
    * a doc of `t` tokens joins class k = ⌊capacity/t⌋, and class-k
    * bins hold EXACTLY k docs (k·t ≤ capacity by construction), so
    * assignment is pure integer math on a per-class rank —
    * bin = (rank−1) div k. Waste is bounded (harmonic packing is
    * ≤ ~1.69× optimal asymptotically) and, unlike FFD, the layout is
    * embarrassingly parallel and bit-reproducible.
    *
    * Scale shape: one scan for (id, tokens, class), then ONE rank
    * window keyed on (class, shard) — `shards` sub-shards each class
    * so no reducer sees more than 1/shards of a class (the 100 TB
    * knob; bins never span shards, so sharding costs nothing but
    * bin-count granularity: ≤ shards−1 extra partial bins per class).
    * Docs longer than `capacity` are excluded (route them through
    * [[wordChunks]] first); rank order is the deterministic
    * (md5Long(id), id) — same layout on any engine or partitioning.
    *
    * Returns the per-class packing report: (k, n_docs, n_bins,
    * tok_sum, fill_frac, assign_sig) where assign_sig is an
    * order-independent exact-decimal checksum of the full doc→bin
    * assignment — the gate pins the LAYOUT, not just the counts,
    * with bounded aggregation state (no collect of ids).
    */
  def packHarmonic(df: DataFrame, idCol: String, textCol: String,
                   capacity: Int, shards: Int = 1): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    require(shards >= 1, s"shards must be >= 1: $shards")
    import org.apache.spark.sql.types.DecimalType
    val dec8 = DecimalType(18, 8)
    val t = df.select(col(idCol).cast("long").as("__id"),
        size(split(col(textCol), " ")).cast("long").as("__t"))
      .where(col("__t") > 0 && col("__t") <= capacity)
      .withColumn("__k", expr(s"$capacity div __t"))
      .withColumn("__shard",
        pmod(md5Long(2, col("__id").cast("string")), lit(shards.toLong)))
    val w = Window.partitionBy(col("__k"), col("__shard"))
      .orderBy(md5Long(col("__id").cast("string")), col("__id"))
    val binned = t
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__bin", expr("(__rn - 1) div __k"))
    binned.groupBy(col("__k").as("k"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(concat_ws(":", col("__shard"), col("__bin")))
          .as("n_bins"),
        sum(col("__t")).as("tok_sum"),
        // order-independent layout checksum: exact decimal sum of a
        // 60-bit hash of every (id, shard, bin) placement
        sum(md5Long(concat_ws(":", col("__id"), col("__shard"),
          col("__bin"))).cast(DecimalType(38, 0))).as("__sig"))
      .select(col("k"), col("n_docs"), col("n_bins"), col("tok_sum"),
        round((col("tok_sum").cast("double") /
          (col("n_bins") * lit(capacity.toLong)).cast("double")).cast(dec8), 6)
          .cast("double").as("fill_frac"),
        col("__sig").cast("string").as("assign_sig"))
      .orderBy(col("k"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS selection rule; the reference's dedup family at
    * etl_slimpajama_dc_proc.py:119-166 stops at whole-document
    * fingerprints, this is the sub-document guarantee variant). Hash
    * every k-word gram, slide a window of w consecutive gram hashes,
    * select each window's minimum with the RIGHTMOST-minimum tie rule;
    * the distinct selections are the document's fingerprints. The two
    * guarantees that make it the standard local-similarity sketch:
    * any shared run of ≥ w + k − 1 words yields at least one SHARED
    * fingerprint (detection threshold), and no run of w windows goes
    * unfingerprinted (density ≈ 2/(w+1) in expectation).
    *
    * Both the (hash asc, position desc) tie rule and the window
    * minimum collapse into ONE long comparison by packing hash and
    * reversed position: packed = (h mod 2^43)·2^20 + (2^20−1−pos) —
    * min(packed) IS argmin(hash asc, pos desc), and the max packed
    * value (2^43−1)·2^20 + 2^20−1 = 2^63−1 exactly fills a signed
    * long with no overflow. Gram hashing rides the native
    * WordShingleHashes kernel and the pack + sliding minimum is the
    * codegen'd [[graft.expressions.WinnowSelect]] monotonic-deque
    * kernel (O(m) per doc — see its scaladoc for why the
    * composed-builtins form is O(m²) after CollapseProject): zero
    * shuffle, the parquet scan projection is the only data-sized
    * stage, and the selection is still plain ANSI-SQL list algebra
    * for the oracle. Docs with fewer than w grams winnow one
    * truncated window, so any doc with ≥ 1 gram gets ≥ 1
    * fingerprint.
    */
  def winnowPacked(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.WinnowSelect(
      expression(graft.ops.Similarity.gramHashesAll(lower(text), k)), w))
  }

  /** Distinct selected fingerprint HASHES (packed >> 20) — the
    * document identity set winnow-based dedup joins on.
    */
  def winnowHashes(text: Column, k: Int, w: Int): Column =
    array_distinct(transform(winnowPacked(text, k, w),
      p => shiftrightunsigned(p, 20)))
}
