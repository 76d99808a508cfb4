package graft.llm

/** The shared text rules, each spelled once for Spark and once for its
  * DuckDB oracle. Every key that tokenizes or prefix-hashes `text`
  * interpolates these, so a plan and its oracle cannot drift apart. */
object TextRules {

  /** Whitespace tokens of the trimmed, lower-cased text. Materialize it
    * as a column before higher-order lambdas read it: Catalyst inlines
    * it into each lambda without CSE (the Shingles3 trap). */
  val toksE = "split(lower(trim(text)), ' ')"
  val duckToks = "string_split(lower(trim(text)), ' ')"

  /** The exact-dup key's input: the first 40 characters of the trimmed,
    * lower-cased text, hashed with SHA-256 on both sides. DuckDB spells
    * it the same way. */
  val dupPrefix = "substr(lower(trim(text)), 1, 40)"
}
