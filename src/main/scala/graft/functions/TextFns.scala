package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-pipeline operators (SURVEY.md §2.3).
  * Everything is Column arithmetic — no UDFs — so the hot path stays
  * in whole-stage codegen and the SQL-expressible pieces have exact
  * DuckDB twins for the oracle.
  */
object TextFns {

  /** Single-space word tokens (the corpus is single-spaced; identical
    * to DuckDB string_split(text,' ')).
    */
  def words(text: Column): Column = split(text, " ")

  def distinctWords(text: Column): Column = array_distinct(words(text))

  /** size(words(text)) without materializing the split array: pieces
    * of a single-char split = separator occurrences + 1, for ANY text
    * (empty text splits to [""] = 1 = 0 spaces + 1; runs of spaces
    * yield empty pieces on both sides identically). One native byte
    * scan — the split-allocate-count form showed up in every
    * per-doc-stats hot path at the 64× blow-up.
    */
  def wordCount(text: Column): Column =
    graft.plans.native.literalCount(text, " ") + lit(1)

  /** Word k-grams as strings ("shingles"). For texts shorter than k
    * words, one shingle covering the whole text.
    */
  def wordShingles(text: Column, k: Int): Column =
    graft.plans.native.wordShingles(text, k)

  /** Jaccard similarity of two string arrays (distinct-set semantics,
    * exact integer sizes divided in double — deterministic).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Number of non-overlapping occurrences of a literal in text —
    * (len(s) - len(replace(s, lit, ''))) / len(lit), the classic
    * mirrorable construction.
    */
  def countOccurrences(text: Column, literal: String): Column =
    // native single-scan count — same non-overlapping semantics as the
    // replace-length construction (which the DuckDB oracles keep), no
    // regex engine and no per-marker text copy
    graft.plans.native.literalCount(text, literal)

  /** Count of regex matches (ASCII-only patterns to keep Java and
    * DuckDB/RE2 semantics identical).
    */
  def countMatches(text: Column, pattern: String): Column =
    // native find()-loop count — the same java.util.regex match
    // sequence as size(regexp_extract_all(text, p, 0)) without
    // materializing every matched substring per row
    graft.plans.native.regexpCount(text, pattern)

  /** Canonical text normalization (the pre-hash scrub every dedup
    * pipeline applies before exact/minhash comparison): lowercase,
    * non-alphanumerics → space, whitespace runs collapsed, trimmed.
    * ASCII char classes only so Java regex and DuckDB/RE2 agree
    * byte-for-byte.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), lit("[^a-z0-9]"), lit(" ")),
      lit(" +"), lit(" ")))
}
