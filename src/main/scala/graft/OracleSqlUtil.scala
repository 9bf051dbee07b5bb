package graft

/** Helpers shared by every oracle-SQL surface (ExtensionQueries,
  * ServingQueries) — one home for the rules that were drifting as
  * per-file copies (round-8 review finding).
  */
object OracleSqlUtil {

  /** A double as a DuckDB DOUBLE literal: string-cast form, so the parse
    * is the correctly-rounded round-trip of Double.toString (a bare
    * decimal literal would go through DuckDB's DECIMAL type instead).
    */
  def dlit(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"
}
