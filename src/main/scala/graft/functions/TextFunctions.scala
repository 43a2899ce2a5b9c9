package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (dedup, language ID, quality scoring, token counting).
  *
  * Everything here is a composition of codegen'd built-in expressions —
  * no UDFs, so whole-stage codegen spans stay wide and the same column
  * logic is expressible in the DuckDB oracle SQL verbatim.
  */
object TextFunctions {

  /** Canonical text form shared by every operator (and the oracle):
    * lowercase, whitespace collapsed to single spaces, trimmed. */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Exact-dedup fingerprint: md5 of the normalized text. md5 is available
    * in both Spark and DuckDB with identical hex output, so fingerprints
    * are oracle-checkable (unlike xxhash64, which only Spark has). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter * lit(1.0) / (size(a) + size(b) - inter)
  }
}
