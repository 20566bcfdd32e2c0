package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gopher-style document quality filtering (Rae et al. 2021, "Scaling
  * Language Models" §A1.1): per-document heuristic metrics — length,
  * mean token length, repetition (duplicate-bigram fraction, top-token
  * frequency), stopword coverage — gated into a keep/drop decision.
  * This is the filter stage a 100 TB pipeline runs BEFORE the expensive
  * dedup/ANN passes, so it must stay cheap and skew-proof.
  *
  * Every metric is an int/int IEEE division over exact token counts —
  * no float accumulation anywhere — so the oracle matches bit-for-bit
  * with no rounding. Plan shape: two corpus scans — the array metrics
  * (bigrams, lengths, stopwords) run as per-row higher-order array
  * functions in a map-only subtree, while the top-token metric
  * explodes and aggregates, keyed by (doc_id, token) then doc_id,
  * never by token alone (a corpus-wide hot token cannot skew a
  * partition) — joined on doc_id at the end. Dropping the top-token
  * gate would make the whole filter one map-only scan.
  */
object Quality {

  private val stopwords = Seq("the", "a", "of", "and")

  /** `docs` with its space-split tokens `s` and their adjacent-token
    * bigrams `bg` ("a b"; empty below two tokens). */
  private def withBigrams(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("s", split(col(textCol), " "))
      .withColumn("bg",
        when(size(col("s")) < 2, array().cast("array<string>"))
          .otherwise(expr(
            "transform(sequence(1, size(s) - 1)," +
              " i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))")))

  /** PUBLIC API — per-document quality metrics + pass flags over
    * (doc_id, text). Thresholds follow the Gopher rules scaled to the
    * fixture's short synthetic docs. */
  def qualityFilter(docs: DataFrame,
      minTokens: Long = 20L, maxDupBigram: Double = 0.2,
      maxTopTok: Double = 0.2, minStop: Double = 0.01): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val topTok = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_tok_c"))

    val d = withBigrams(docs, "text")
      .select(
        col("doc_id"),
        size(col("s")).cast("long").as("n_tokens"),
        expr("cast(aggregate(transform(s, x -> length(x)), 0L, (a, x) -> a + x) as double)" +
          " / size(s)").as("mean_tok_len"),
        when(size(col("bg")) === 0, lit(0.0))
          .otherwise((size(col("bg")) - size(array_distinct(col("bg"))))
            .cast("double") / size(col("bg"))).as("dup_bigram_frac"),
        expr(s"cast(size(filter(s, x -> x in (${stopwords.map("'" + _ + "'").mkString(", ")}))) as double)" +
          " / size(s)").as("stop_frac"))

    d.join(topTok, "doc_id")
      .withColumn("top_tok_frac",
        col("max_tok_c").cast("double") / col("n_tokens"))
      .drop("max_tok_c")
      .withColumn("pass",
        col("n_tokens") >= minTokens &&
          col("dup_bigram_frac") < maxDupBigram &&
          col("top_tok_frac") < maxTopTok &&
          col("stop_frac") >= minStop)
      .orderBy(col("doc_id").asc_nulls_last)
  }

  /** PUBLIC API — fastText-style hashed linear quality scorer (Joulin
    * et al. 2017 "Bag of Tricks for Efficient Text Classification"):
    * unigram + bigram features hashed into weight buckets, scored by a
    * linear model, mean-pooled per document. The inference shape of the
    * learned quality classifiers pipelines run corpus-wide (e.g. the
    * CCNet / GPT-3 quality filters) — the expensive part at 100 TB is
    * exactly this pass, so its plan must be MAP-ONLY: features never
    * explode into rows; both feature sums fold per-row inside
    * whole-stage codegen via `aggregate` higher-order functions, and the
    * only exchange is the output ordering.
    *
    * The weight table is a pure function of the feature hash
    * (md5 → bucket → integer weight in [-500, 500]), standing in for a
    * trained model's weights: a REAL model would broadcast a
    * |buckets|-sized int array and index it in the same fold — the plan
    * is identical, only the lookup differs. Integer raw sums → the
    * oracle replays bit-exactly; the one float op (mean) is a single
    * IEEE division. */
  def hashedQualityScore(docs: DataFrame, textCol: String = "text",
      carry: Seq[String] = Nil): DataFrame = {
    val wExpr = (c: String) =>
      s"aggregate($c, 0L, (a, x) -> " +
        "a + ((cast(conv(substr(md5(x), 1, 6), 16, 10) as bigint) % 1001) - 500))"
    withBigrams(docs, textCol)
      .select(
        col("doc_id") +: carry.map(col) :+
          (size(col("s")) + size(col("bg"))).cast("long").as("n_feats") :+
          (expr(wExpr("s")) + expr(wExpr("bg"))).as("raw_score"): _*)
      .withColumn("score", col("raw_score").cast("double") / col("n_feats"))
      .withColumn("pass", col("score") > 0.0)
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private def q58(s: SparkSession, dir: String): DataFrame =
    qualityFilter(Tables.t(s, dir, "documents"))

  private val q58Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tt AS (SELECT doc_id, MAX(c)::BIGINT AS max_tok_c FROM
      |  (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok) GROUP BY doc_id),
      |d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |b AS (SELECT doc_id, s,
      |  [s[i] || ' ' || s[i+1] FOR i IN range(1, len(s))] AS bg FROM d),
      |m AS (SELECT doc_id,
      |  len(s)::BIGINT AS n_tokens,
      |  CAST(list_sum(list_transform(s, x -> len(x))) AS DOUBLE) / len(s) AS mean_tok_len,
      |  CASE WHEN len(bg) = 0 THEN 0.0
      |    ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END AS dup_bigram_frac,
      |  CAST(len(list_filter(s, x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
      |    / len(s) AS stop_frac
      |FROM b)
      |SELECT m.doc_id, n_tokens, mean_tok_len, dup_bigram_frac, stop_frac,
      |  CAST(max_tok_c AS DOUBLE) / n_tokens AS top_tok_frac,
      |  (n_tokens >= 20 AND dup_bigram_frac < 0.2
      |    AND CAST(max_tok_c AS DOUBLE) / n_tokens < 0.2
      |    AND stop_frac >= 0.01) AS pass
      |FROM m JOIN tt ON m.doc_id = tt.doc_id
      |ORDER BY m.doc_id ASC NULLS LAST""".stripMargin

  private def q85(s: SparkSession, dir: String): DataFrame =
    hashedQualityScore(Tables.t(s, dir, "documents"))

  /** The q85 scoring pipeline as reusable WITH-body CTEs (`d`, `b`,
    * `m` — m carries doc_id, n_feats, raw_score); shared with the
    * per-source quota oracle ([[Quota]]). `extraCols` propagates
    * additional document columns through the chain. */
  private[operators] def scoreSqlCtes(extraCols: String = ""): String = {
    val ec = if (extraCols.isEmpty) "" else s", $extraCols"
    s"""d AS (SELECT doc_id$ec, string_split(text, ' ') AS s FROM documents),
       |b AS (SELECT doc_id$ec, s,
       |  [s[i] || ' ' || s[i+1] FOR i IN range(1, len(s))] AS bg FROM d),
       |m AS (SELECT doc_id$ec,
       |  CAST(len(s) + len(bg) AS BIGINT) AS n_feats,
       |  CAST(COALESCE(list_sum(list_transform(s,
       |      x -> ('0x' || substr(md5(x), 1, 6))::BIGINT % 1001 - 500)), 0)
       |    + COALESCE(list_sum(list_transform(bg,
       |      x -> ('0x' || substr(md5(x), 1, 6))::BIGINT % 1001 - 500)), 0)
       |    AS BIGINT) AS raw_score
       |FROM b)""".stripMargin
  }

  private val q85Sql =
    s"""WITH ${scoreSqlCtes()}
      |SELECT doc_id, n_feats, raw_score,
      |  CAST(raw_score AS DOUBLE) / n_feats AS score,
      |  (CAST(raw_score AS DOUBLE) / n_feats > 0.0) AS pass
      |FROM m ORDER BY doc_id ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q58_quality_filter", q58, Some(q58Sql)),
    QueryDef("q85_quality_score", q85, Some(q85Sql)))
}
