package graft.queries

/** DuckDB text fragments shared by the gate oracles ([[graft.Gate]]).
  *
  * Independence rule: every fragment is literal DuckDB SQL written here.
  * None is derived from an engine constant or from Scala code, so an
  * oracle stays an independent statement of what the engine must
  * compute — sharing a fragment shares the oracle's text, never the
  * implementation it checks.
  *
  * Parameter rule: a fragment takes only the parameters in which its
  * existing call sites differ. An oracle whose copy differs in anything
  * more keeps its literal text; no fragment grows a flag to cover it.
  *
  * Fragments are spliced into `s"""…""".stripMargin` oracles, so a
  * fragment must not start a line with `|`.
  */
object OracleSql {

  // ---- expressions ----

  /** `TextAnalysis.tokens`: trimmed, lower-cased, split on whitespace. */
  def tokenize(text: String): String =
    s"regexp_split_to_array(lower(trim($text)), '\\s+')"

  /** Exact cosine of two DOUBLE[] lists. */
  def cosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * " +
      s"list_dot_product($b, $b))"

  /** BM25 weight (k1 = 1.2, b = 0.75) of one matched term, over the
    * `tf`, `dl`, `lex` and `st` aliases of [[bm25Stats]].
    */
  val bm25Weight: String =
    "ln(1 + (st.n_docs - lex.df + 0.5) / (lex.df + 0.5)) * tf.tf * 2.2 " +
      "/ (tf.tf + 0.3 + 0.9 * dl.dl / st.avgdl)"

  /** 1-based rank of a row within its `query_id` by `order`. */
  def rankBy(order: String): String =
    s"row_number() OVER (PARTITION BY query_id ORDER BY $order)"

  // ---- CTEs: lexical retrieval ----

  /** CTE `name(id, toks)`: the tokens of each `doc_id`'s `text` in `from`. */
  def docTokens(name: String, from: String): String =
    s"$name AS (SELECT doc_id AS id, ${tokenize("text")} AS toks FROM $from)"

  /** The BM25 statistics over a `tok(id, toks)` CTE: term frequencies
    * `tf(id, term, tf)`, document lengths `dl(id, dl)`, document
    * frequencies `lex(term, df)` and the corpus row `st(n_docs, avgdl)`.
    */
  val bm25Stats: String =
    """tf AS (SELECT id, term, count(*) AS tf
      |       FROM (SELECT id, unnest(toks) AS term FROM tok)
      |       GROUP BY 1, 2),
      |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |lex AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)""".stripMargin

  private val bm25Rn: String =
    s"CAST(${rankBy("round(score_raw, 6) DESC, id")} AS INTEGER) AS rn"

  /** CTE `r`: each query's hits in `sc(query_id, id, score_raw)`, ranked
    * `rn` by the 6-digit score descending, ties by id.
    */
  val bm25Ranked: String = s"r AS (SELECT query_id, id, $bm25Rn FROM sc)"

  /** The BM25 top-5 answer over `sc(query_id, id, score_raw, matched)`:
    * `(query_id, rn, id, matched, score)` with `rn` ranked as in
    * [[bm25Ranked]] and `score` the score rounded to 6 digits.
    */
  val bm25Top5: String =
    s"""r AS (SELECT query_id, id, matched, round(score_raw, 6) AS score,
       |  $bm25Rn FROM sc)
       |SELECT query_id, rn, id, matched, score
       |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  // ---- CTEs: exact vector search ----

  /** CTE `p`: every ordered pair of distinct rows of `e(vec_id, v)` as
    * `(query_id, vec_id, cos)`.
    */
  val allPairsCos: String =
    s"""p AS (SELECT a.vec_id AS query_id, b.vec_id,
       |  ${cosine("a.v", "b.v")} AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id)""".stripMargin

  /** CTE `r`: the rows of `p(query_id, vec_id, cos)`, each with its
    * `rank` within the query (cosine descending, ties by vec_id).
    */
  val cosRanked: String =
    s"""r AS (SELECT query_id, vec_id, cos,
       |  ${rankBy("cos DESC, vec_id")} AS rank FROM p)""".stripMargin

  /** The exact top-5 answer over `p(query_id, vec_id, cos)`:
    * `(query_id, neighbor_id, cos, rank)` ranked as in [[cosRanked]],
    * `cos` rounded to 6 digits.
    */
  val cosTop5: String =
    s"""$cosRanked
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos,
       |       CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The exact 3-NN graph of `e(vec_id, v)`: [[allPairsCos]] `p`,
    * [[cosRanked]] `r`, the directed edges `knn(src, dst)` to each row's
    * 3 nearest neighbours and their undirected closure `und(src, dst)`.
    */
  val exactKnn3: String =
    s"""$allPairsCos,
       |$cosRanked,
       |knn AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst
       |  FROM r WHERE rank <= 3),
       |und AS MATERIALIZED (SELECT src, dst FROM knn
       |  UNION SELECT dst, src FROM knn)""".stripMargin

  // ---- whole oracles ----

  /** The oracle of a search gate's recall floor (`GateOps.recallFloor`)
    * over the 20 queries `vec_id < 20`: every floor holds.
    */
  val searchFloorOk: String =
    """SELECT count(*) AS n_queries, true AS search_ok
      |FROM embeddings WHERE vec_id < 20""".stripMargin

  /** The oracle of a graph build's recall floor over every node. */
  val graphFloorOk: String =
    "SELECT count(*) AS n_nodes, true AS graph_ok FROM embeddings"
}
