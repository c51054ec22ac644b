package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.PolyHash.M

/** Shared text primitives for the LLM-pipeline operators (SURVEY.md §2.10).
  *
  * One implementation per primitive, none of them an interpreted lambda:
  * tokens are built-in array functions, and the hash, shingle and n-gram
  * kernels are the codegen'd expressions in [[graft.plans.CustomExprs]]
  * (`poly_hash`/`poly_hash_array`, `shingles3_fast`, `spans_w`) or the
  * built-in [[tokenPairs]]. TextKernelAuditSpec keeps interpreted twins from
  * growing back.
  *
  * The polynomial rolling hash folds (acc*31 + c) mod 1e9+7 over Unicode
  * CODE POINTS (c = `ascii()` of each character, in Spark and in DuckDB)
  * instead of Spark's murmur3 `hash()`, so the SAME hash is expressible in
  * DuckDB SQL — engine-native hash functions differ and would make every
  * hash-derived operator un-oracle-able. All folds are left-to-right over
  * <=2^31 intermediate values: deterministic and overflow-free in both
  * engines. The SQL mirrors below are the oracle's reference forms.
  */
object TextUtil {
  /** Whitespace tokens, empty strings dropped (`split` yields no nulls). */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Token pairs (toks[i], toks[i + off]) as array<struct<w1, w2>>, in
    * position order; empty when there are at most `off` tokens. */
  def tokenPairs(toks: Column, off: Int): Column = {
    val n = greatest(size(toks) - off, lit(0))
    arrays_zip(slice(toks, lit(1), n), slice(toks, lit(1 + off), n))
      .cast("array<struct<w1:string,w2:string>>")
  }

  // --- DuckDB SQL mirrors (1:1 with the kernels above) ---

  def sqlTokens(text: String): String =
    s"list_filter(string_split($text, ' '), t -> length(t) > 0)"

  def sqlPolyHash(t: String, seed: Long): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), " +
      s"list_transform(range(1, length($t)+1), " +
      s"i -> CAST(ascii($t[CAST(i AS INTEGER)]) AS BIGINT))), " +
      s"(acc, x) -> (acc*31 + x) % $M)"

  def sqlShingles3(toks: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($toks)-2, 0)+1), " +
      s"i -> $toks[CAST(i AS INTEGER)] || '_' || $toks[CAST(i+1 AS INTEGER)] " +
      s"|| '_' || $toks[CAST(i+2 AS INTEGER)]))"
}
