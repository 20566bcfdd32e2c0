package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11: VOCABULARY RICHNESS & COVERAGE — "how much of the
  * language have we actually crawled". Corpus curation needs to know
  * whether adding more of a source still buys new vocabulary; the
  * ecology estimators answer it from frequency-of-frequency counts
  * alone: Chao1 richness D̂ = D + f1·(f1−1)/(2·(f2+1)) (bias-corrected
  * form — defined even with no doubletons) estimates how many distinct
  * tokens EXIST including the unseen ones, and Good–Turing coverage
  * 1 − f1/N estimates the probability mass of the seen vocabulary. A
  * shrinking f1 share says the source is exhausted; a Chao1 far above
  * D says keep crawling.
  *
  * Spark-first shape: the (g, token) count is plain map-side-combined
  * wordcount (the canonical scalable aggregation); the
  * frequency-of-frequency fold is one tiny per-group pass over
  * |vocab| rows. No collect, no sort, parallelism bounded by vocab
  * hashing — the 100 TB shape.
  *
  * Determinism/oracle: tokenization is the q29 space-split (proven
  * engine-parity with DuckDB `string_split`); every estimator input is
  * an exact integer and the two formulas are single +−×÷ double
  * expressions — DuckDB replays both to the rounded digit. */
object Richness {

  /** Per-(g, tok) token counts c of a (g, text) frame, tokens split on
    * single spaces. [[tokcSql]] is its oracle twin over documents. */
  private def tokenCounts(base: DataFrame): DataFrame =
    base.select(col("g"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))

  /** [[tokenCounts]] of documents per language, as the `tokc` CTE. */
  private val tokcSql =
    """tokc AS (
      |  SELECT g, tok, COUNT(*) AS c FROM (
      |    SELECT lang AS g, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t
      |  GROUP BY 1, 2)""".stripMargin

  /** PUBLIC API — per-group (g, text) → (g, d_obs, n_tok, f1, f2,
    * chao1, coverage). */
  def vocabRichness(base: DataFrame): DataFrame =
    tokenCounts(base).groupBy(col("g"))
      .agg(count(lit(1)).as("d_obs"),
        sum(col("c")).as("n_tok"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("g"), col("d_obs"), col("n_tok"), col("f1"), col("f2"),
        round(col("d_obs").cast("double") +
          col("f1").cast("double") * (col("f1") - 1).cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double")), 4).as("chao1"),
        round(lit(1.0) - col("f1").cast("double") / col("n_tok").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("g").asc_nulls_last)

  /** Q159: vocabulary richness of the documents corpus per language. */
  private def q159(s: SparkSession, dir: String): DataFrame =
    vocabRichness(Tables.t(s, dir, "documents")
      .select(col("lang").as("g"), col("text")))

  private val q159Sql =
    s"""WITH $tokcSql,
       |ff AS (
       |  SELECT g, COUNT(*) AS d_obs, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM tokc GROUP BY g)
       |SELECT g, d_obs, n_tok, f1, f2,
       |  ROUND(CAST(d_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
       |    / (2.0::DOUBLE * CAST(f2 + 1 AS DOUBLE)), 4) AS chao1,
       |  ROUND(1.0::DOUBLE - CAST(f1 AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS coverage
       |FROM ff
       |ORDER BY g ASC NULLS LAST""".stripMargin

  /** PUBLIC API — EFFECTIVE vocabulary size by Simpson/inverse-
    * participation diversity: D_eff = N²/Σc² — the number of equally-
    * frequent tokens that would produce the same concentration
    * (entropy-family diversity re-expressed transcendental-free: this
    * is the Hill number of order 2, where Shannon's exp(H) needs ln).
    * q159 counts how many tokens EXIST; this says how many are doing
    * the work — a corpus can have a million-token vocabulary where a
    * thousand tokens carry all the mass (D_eff ≈ 10³), the signal for
    * repetition-heavy or boilerplate sources. `top_share` names the
    * worst offender's mass fraction.
    *
    * Exactness: Σc² accumulates DECIMAL(19,0)×(19,0) → (38,0) products
    * (no long overflow at any count), so both engines fold exact
    * integers; the two divisions are one shared double tree. */
  def vocabDiversity(base: DataFrame): DataFrame =
    tokenCounts(base).groupBy(col("g"))
      .agg(count(lit(1)).as("d_obs"),
        sum(col("c")).as("n_tok"),
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("s2"),
        max(col("c")).as("c_top"))
      .select(col("g"), col("d_obs"), col("n_tok"),
        round(col("n_tok").cast("double") * col("n_tok").cast("double") /
          col("s2").cast("double"), 4).as("d_eff"),
        round(col("c_top").cast("double") / col("n_tok").cast("double"), 6)
          .as("top_share"))
      .orderBy(col("g").asc_nulls_last)

  /** Q162: effective vocabulary size of the documents corpus per
    * language — q159's concentration-side companion. */
  private def q162(s: SparkSession, dir: String): DataFrame =
    vocabDiversity(Tables.t(s, dir, "documents")
      .select(col("lang").as("g"), col("text")))

  private val q162Sql =
    s"""WITH $tokcSql,
       |ff AS (
       |  SELECT g, COUNT(*) AS d_obs, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s2,
       |    CAST(MAX(c) AS BIGINT) AS c_top
       |  FROM tokc GROUP BY g)
       |SELECT g, d_obs, n_tok,
       |  ROUND(CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
       |    / CAST(s2 AS DOUBLE), 4) AS d_eff,
       |  ROUND(CAST(c_top AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS top_share
       |FROM ff
       |ORDER BY g ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q159_vocab_richness", q159, Some(q159Sql)),
    QueryDef("q162_vocab_diversity", q162, Some(q162Sql)))
}
