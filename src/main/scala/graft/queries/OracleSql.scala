package graft.queries

/** DuckDB fragments that more than one query file's oracles share. Each
  * is plain SQL text: nothing here calls Spark operator code, so an
  * oracle stays independent of the operator it checks. */
private[queries] object OracleSql {

  /** Whitespace tokenization of `text` — the Spark side's trim + `\s+`
    * split. */
  val toks = "regexp_split_to_array(trim(text), '\\s+')"

  /** The distinct word 3-shingles of token array `tk` (the whole text as
    * one shingle when shorter than 3 tokens). */
  def shingleSet(tk: String): String =
    s"""list_distinct(CASE WHEN len($tk) < 3 THEN [array_to_string($tk, ' ')]
          ELSE list_transform(range(1, len($tk) - 1),
                 i -> array_to_string(($tk)[i:i+2], ' ')) END)"""

  /** The %13 null/empty/blank injection over `text` (the fingerprint
    * null contract's adversarial rows), keyed by `doc_id`. `row` is the
    * column prefix: "" for the table itself, "a." for an alias. */
  def nullInjected(row: String): String =
    s"""CASE WHEN ${row}doc_id % 13 = 0 THEN NULL
        WHEN ${row}doc_id % 13 = 1 THEN ''
        WHEN ${row}doc_id % 13 = 2 THEN '   '
        ELSE ${row}text END"""

  /** Connected components of the undirected edge set in CTE
    * `pairs(id_a, id_b)` by transitive closure (needs `WITH RECURSIVE`):
    * `comp(id, component)`, component = the smallest reachable id — the
    * fixpoint large-star/small-star reaches. Ids in no pair have no row. */
  val componentCtes: String =
    """edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (SELECT u, v FROM edges UNION
                  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
                  WHERE e2.v <> r.u),
        comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS component
                 FROM reach GROUP BY u)"""
}
