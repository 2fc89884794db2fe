package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the `documents`
  * table (doc_id, text, lang, source, n_chars).
  *
  * Every formula here is deliberately expressible in ANSI SQL with identical
  * arithmetic (the DuckDB oracle mirrors it term-for-term): token counts via
  * split, ratios via replace-counting, language ID via marker-word scoring.
  * All of it is plain `functions._` — whole-stage codegen, no UDFs.
  */
object TextOps {

  /** Plain-needle occurrence count via the codegen'd scanner
    * (functions.TextCountSubstr) — the replace-count formula copies the
    * whole text once per needle per row; the scanner reads the text's bytes
    * in place and allocates nothing.
    * Same leftmost non-overlapping count, cast to the double the replace
    * formula's division produced. Callers must have GraftFunctions
    * registered (every DataFrame-level entry point here does). */
  private def occPlain(padded: Column, needle: String): Column =
    call_function("text_count_substr", padded, lit(needle)).cast("double")

  /** Token counting: whitespace tokens of the trimmed text. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), " ")).as("n_tokens"),
      length(col("text")).as("n_chars_actual")
    )

  /** Quality scoring: length, word stats, stopword ratio, composite score. */
  def quality(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val padded = concat(lit(" "), col("text"), lit(" "))
    val words = size(split(trim(col("text")), " ")).cast("double")
    val stops = (occPlain(padded, " the ") + occPlain(padded, " a ") + occPlain(padded, " and ")).cast("double")
    // non-space char count = length − space count (the replace-based form
    // copied the text just to re-measure it)
    val nonSpace = length(col("text")) - call_function("text_count_substr", col("text"), lit(" "))
    docs.select(
      col("doc_id"),
      length(col("text")).as("chars"),
      words.cast("long").as("words"),
      round(nonSpace.cast("double") / words, 4).as("avg_word_len"),
      round(stops / words, 4).as("stop_ratio"),
      round(least(words / lit(50.0), lit(1.0)) * (lit(1.0) - stops / words), 4).as("quality_score")
    )
  }

  /** The marker-word argmax as a reusable column (language-identifier's
    * detection stage re-expressed; also the q_lang_guess oracle formula). */
  def langGuessCol(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    def score(markers: Seq[String]): Column =
      markers.map(m => occPlain(padded, s" $m ")).reduce(_ + _)
    val en = score(Seq("the", "and", "of"))
    val es = score(Seq("el", "la", "que"))
    val de = score(Seq("der", "und", "die"))
    val fr = score(Seq("le", "et", "les"))
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Language-ID heuristic: marker-word scores, argmax with fixed priority.
    * (A real n-gram model would not be oracle-mirrorable; the marker-count
    * heuristic is the deterministic stand-in with identical SQL.) */
  def langGuess(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      col("lang").as("lang_labeled"),
      langGuessCol(col("text")).as("lang_guess")
    )
  }

  /** BPE-ish token counting: alpha runs, digit runs, and single punctuation
    * marks each count as one token (the regex shape a byte-pair pre-tokenizer
    * uses). Pure column code: regexp_count over codegen'd expressions. */
  def bpeishTokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      (regexp_count(col("text"), lit("[A-Za-z]+")) +
        regexp_count(col("text"), lit("[0-9]+")) +
        regexp_count(col("text"), lit("[^A-Za-z0-9\\s]"))).as("n_bpeish_tokens")
    )

  /** REAL merge-table BPE token count ([[Bpe]]): greedy lowest-rank pair
    * merging per word, via the codegen'd `text_bpe_count` expression —
    * the token-budget number an LLM-pipeline user actually wants (the
    * regex sibling above is the cheap approximation). */
  def bpeTokenCount(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function("text_bpe_count", col("text")).as("n_bpe_tokens"))
  }

  /** Position-weighted character fingerprint: sum(ascii(c_i) * i) over the
    * 1-based character positions — deterministic, oracle-mirrorable.
    * (The production-scale rolling hash is the native text_fingerprint64
    * expression; this variant exists for exact SQL parity.) */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      (aggregate(
        transform(split(col("text"), ""), (c, i) => ascii(c).cast("long") * (i + 1).cast("long")),
        lit(0L),
        (acc, x) => acc + x
      ) % 1000000007L).as("fingerprint")
    )

  /** Longest run of equal adjacent elements in a SORTED array — which is
    * exactly the max multiplicity of any element. Single left fold, no
    * shuffle, no map allocation. */
  private def maxRunSorted(sorted: Column): Column =
    aggregate(sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Repetition signals (the Gopher rep filters): the fraction of a
    * document's words claimed by its most frequent token and by its most
    * frequent word 2-gram — boilerplate/spam pages score high and get
    * culled before training.
    *
    * Shape: ZERO shuffles. A document's top-gram count is a pure function
    * of its own tokens, so the per-(doc, gram) counting runs row-local:
    * sort the gram array, take the longest equal-run (= max multiplicity).
    * The former explode → count → max plan shuffled every token of every
    * document twice for what a per-row array fold computes exactly.
    * Fractions emitted as floor-ppm longs (engine-neutral compare), same
    * double arithmetic as before: (top·n / (total+n−1)) · 10⁶. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), " ").as("tk"))
      .filter(size(col("tk")) > 0)
    // unigrams drop empty tokens; a doc with ONLY empty tokens has no
    // unigram stats row at all (the former inner aggregation semantics)
    def frac(top: Column, total: Column, n: Int): Column =
      floor(top.cast("double") * lit(n) / (total + lit(n - 1)) * 1000000).cast("long")
    val uni = array_sort(filter(col("tk"), t => length(t) > 0))
    // bigrams use RAW tokens (incl. empties); docs with < 2 tokens have a
    // null bigram signal (the former LEFT join semantics)
    val bi = array_sort(transform(sequence(lit(0), size(col("tk")) - 2),
      i => concat_ws(" ", col("tk")(i), col("tk")(i + 1))))
    toks
      .select(col("doc_id"), uni.as("u"), col("tk"))
      .filter(size(col("u")) > 0)
      .select(col("doc_id"),
        frac(maxRunSorted(col("u")), size(col("u")).cast("long"), 1)
          .as("rep_top_1gram_ppm"),
        when(size(col("tk")) >= 2,
          frac(maxRunSorted(bi), (size(col("tk")) - 1).cast("long"), 2))
          .as("rep_top_2gram_ppm"))
  }
}
