package graft.operators

import graft.{Canon, QueryDef, Tables}
import graft.Canon.exactSum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12: FEATURE ASSOCIATION AUDIT — the "which columns move
  * together" pass a training-data pipeline runs before feature
  * selection / leakage review: a Pearson correlation matrix over the
  * numeric columns (q164) and Cramér's V over categorical column
  * pairs (q165). Together they answer, for every column pair, "is one
  * redundant given the other" — numeric via moments, categorical via
  * the χ² contingency statistic.
  *
  * Spark-first shape, q164: ALL pairwise correlations come from ONE
  * scan — the 2k + k(k−1)/2 + 1 moment sums (Σxᵢ, Σxᵢ², Σxᵢxⱼ, n) are
  * a single map-side-combinable groupBy, and the pair matrix is an
  * explode over the tiny aggregated frame (k=4 → 15 sums, 6 pair rows
  * per group). At 100 TB this is exactly one exchange of 15 numbers
  * per group — never a self-join, never k scans.
  *
  * Spark-first shape, q165: one wordcount-shaped (a, b) cell count per
  * table scan; row/column marginals are re-aggregations OF THE CELL
  * FRAME (≤ r·c rows — never a rescan of the fact table) broadcast
  * back onto it, and χ² = Σ o²/e − n folds only the OBSERVED cells
  * (the algebraic shortcut makes zero cells free — see [[cramersV]]).
  * Three table scans total for three audited pairs.
  *
  * Determinism/oracle: every moment/cell input is accumulated as
  * DECIMAL(38,12) (exact, order-independent — the [[graft.Canon]]
  * discipline); the closed forms are then single +−×÷√ double
  * expressions. IEEE-754 sqrt is correctly rounded, so identical
  * inputs give bit-identical outputs in both engines, and DuckDB
  * replays the matrix to the rounded digit. χ² cell terms o²/e are
  * computed in doubles from identical integers and cast per-cell to
  * DECIMAL(38,12) before summing, making the fold order-independent
  * too; the final Σ o²/e − n is clamped at 0 so float dust under exact
  * independence cannot leak a negative χ² into the √.
  */
object Assoc {

  /** PUBLIC API — per-group Pearson correlation matrix over the given
    * numeric columns of `base` (group column `g`): one row per
    * unordered column pair, (g, col_x, col_y, n, corr) with corr
    * 9-dp rounded; pairs with a degenerate side (zero variance) emit
    * NULL. Single scan, single aggregation, any column count.
    *
    * Complete-case: rows with a NULL in ANY of `cols` are dropped up
    * front — n counts rows while the moment sums skip NULLs, so an
    * incomplete row would inflate n and bias every pair it touches
    * (r12 ADVICE). SQL mirrors carry the same filter.
    *
    * `pairedColScale = Some(cs)` switches the moment sums to the
    * paired-longs exact path ([[graft.Canon.psumAggs]] — r13h measured
    * the decimal(38,12) agg buffers 27x off DuckDB per core on exactly
    * this kernel). Each COLUMN is scaled once to the integer long
    * c·10^cs (k decimal ops per row, not one per term); every square
    * and cross product is then pure long arithmetic at scale 2·cs, and
    * the 2k + k(k−1)/2 sums aggregate as paired longs. Bit-identical
    * to the decimal path (proof at the Canon helper) when every column
    * value is an exact multiple of 10^-cs and the largest cross
    * product satisfies |c·d|·10^2cs < 2^63; the caller owes those
    * bounds. Default None keeps the decimal accumulate for arbitrary
    * inputs. */
  def corrMatrix(base: DataFrame, cols: Seq[String],
      pairedColScale: Option[Int] = None): DataFrame = {
    val complete = base.na.drop("any", cols)
    def sumTerms: Seq[(String, Column, Int)] =
      cols.map(c => (s"s_$c", col(c), 1)) ++
        cols.map(c => (s"ss_$c", col(c) * col(c), 2)) ++
        cols.combinations(2).map { case Seq(a, b) =>
          (s"sp_${a}_$b", col(a) * col(b), 2)
        }.toSeq
    val moments = pairedColScale match {
      case Some(cs) =>
        complete
          .select(col("g") +:
            cols.map(c => graft.Canon.pterm(col(c), cs).as(c)): _*)
          .groupBy(col("g")).agg(
            count(lit(1)).cast("double").as("n"),
            sumTerms.flatMap { case (nm, u, _) =>
              graft.Canon.psumAggs(u, nm) }: _*)
          .select(col("g") +: col("n") +:
            sumTerms.map { case (nm, _, deg) =>
              graft.Canon.psumDouble(nm, deg * cs).as(nm) }: _*)
      case None =>
        complete.groupBy(col("g")).agg(
          count(lit(1)).cast("double").as("n"),
          sumTerms.map { case (nm, t, _) => exactSum(t).as(nm) }: _*)
    }
    val pairRows = cols.combinations(2).map { case Seq(a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col(s"s_$a").as("sx"), col(s"s_$b").as("sy"),
        col(s"ss_$a").as("sxx"), col(s"ss_$b").as("syy"),
        col(s"sp_${a}_$b").as("sxy"))
    }.toSeq
    moments
      .select(col("g"), col("n"), explode(array(pairRows: _*)).as("p"))
      .select(col("g"), col("p.col_x"), col("p.col_y"), col("n"),
        (col("n") * col("p.sxx") - col("p.sx") * col("p.sx")).as("dx"),
        (col("n") * col("p.syy") - col("p.sy") * col("p.sy")).as("dy"),
        (col("n") * col("p.sxy") - col("p.sx") * col("p.sy")).as("cov"))
      .select(col("g"), col("col_x"), col("col_y"),
        col("n").cast("long").as("n"),
        when(col("dx") * col("dy") > 0,
          round(col("cov") / sqrt(col("dx") * col("dy")), 9))
          .otherwise(lit(null)).as("corr"))
      .orderBy(col("g").asc_nulls_last, col("col_x").asc_nulls_last,
        col("col_y").asc_nulls_last)
  }

  /** PUBLIC API — Cramér's V of one categorical pair over (a, b) rows:
    * a single labelled row (pair, n, r, c, dof, chi2, v), chi2/v 9-dp
    * rounded. Cell counts in one scan; marginals are tiny per-level
    * re-aggregations of the ≤ r·c cell frame, broadcast back onto it;
    * V = √(χ² / (n·min(r−1, c−1))). Pairs where either side is
    * constant (min(r−1, c−1) = 0) emit NULL v.
    *
    * χ² uses the algebraic shortcut Σ(o−e)²/e = Σ o²/e − n, summing
    * ONLY observed cells: a structurally-zero cell contributes 0 to
    * Σ o²/e, so the full r×c expected grid — whose zero cells each owe
    * an e term to the naive sum — never needs materializing. That is
    * both the correctness fix (dropping zero cells from the naive sum
    * understates χ²) and the scale story: sparse contingency tables
    * (r·c ≫ observed cells) cost only the observed cells. */
  def cramersV(base: DataFrame, pairName: String): DataFrame = {
    // the ≤ r·c cell frame feeds FOUR consumers (terms + both marginals
    // + the total); without materialization each re-derives the full
    // scan lineage (the q126/q150 lesson) — checkpoint the tiny frame
    // so the fact table is scanned exactly once per audited pair
    val cells = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rowMarg = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
    val colMarg = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
    val total = cells.agg(sum(col("o")).as("nn"))
    val terms = cells
      .join(broadcast(rowMarg), "a")
      .join(broadcast(colMarg), "b")
      .crossJoin(broadcast(total))
      .withColumn("e", col("rt").cast("double") * col("ct").cast("double") /
        col("nn").cast("double"))
      .withColumn("term",
        (col("o").cast("double") * col("o").cast("double") / col("e"))
          .cast("decimal(38,12)"))
    terms
      .agg(max(col("nn")).as("n"),
        count_distinct(col("a")).as("r"),
        count_distinct(col("b")).as("c"),
        sum(col("term")).cast("double").as("sumsq"))
      .select(lit(pairName).as("pair"), col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        round(greatest(col("sumsq") - col("n").cast("double"), lit(0.0)), 9)
          .as("chi2"),
        when(least(col("r"), col("c")) > 1,
          round(sqrt(
            greatest(col("sumsq") - col("n").cast("double"), lit(0.0)) /
              (col("n").cast("double") *
                least(col("r") - 1, col("c") - 1).cast("double"))), 9))
          .otherwise(lit(null)).as("v"))
  }

  /** Tie-averaged DOUBLED rank frame for EVERY melted column at once:
    * input (g, name, v, cnt) distinct-value counts, output
    * (g, name, v, r) with r = 2·cnt_less + cnt_eq + 1 — exactly TWICE
    * the tie-averaged rank Spearman needs, kept as a LONG so the
    * downstream moment sums run on the paired-longs integer path.
    * Pearson correlation of 2·ranks is bit-identical to that of ranks
    * through [[corrMatrix]]'s closed form: every moment scales by a
    * power of two (sums ×2, squares/products ×4), and IEEE-754
    * multiplication, subtraction, division and sqrt all commute
    * exactly with power-of-two scaling (no overflow at these
    * magnitudes) — so the oracle may keep ranking with half-integer
    * ranks. Computed WITHOUT a per-column global sort: the cumulative
    * count over distinct values is two-phase (the q56 discipline):
    * values are binned into `bins` range blocks (floor is monotone, so
    * blocking preserves the value order), the within-block cumulative
    * window is bounded by a block's distinct values, and the only
    * serial window runs over the ≤`bins`-row block-total frame —
    * partitioned by (g, name), so the k columns' serial stages run in
    * parallel instead of as k separate jobs. */
  private def rankFrameAll(vals: DataFrame, bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rng = vals.groupBy(col("g"), col("name"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val blocked = vals.join(broadcast(rng), Seq("g", "name"))
      .withColumn("blk",
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")) /
            ((col("mx") - col("mn")) / bins)), lit(bins - 1)))
          .otherwise(lit(0)).cast("int"))
    val wIn = Window.partitionBy(col("g"), col("name"), col("blk"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = blocked.withColumn("cum", sum(col("cnt")).over(wIn))
    val wOff = Window.partitionBy(col("g"), col("name")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = blocked.groupBy(col("g"), col("name"), col("blk"))
      .agg(sum(col("cnt")).as("bn"))
      .withColumn("boff", sum(col("bn")).over(wOff) - col("bn"))
      .select(col("g"), col("name"), col("blk"), col("boff"))
    within.join(broadcast(off), Seq("g", "name", "blk"))
      .select(col("g"), col("name"), col("v"),
        // doubled rank 2·(boff + cum − cnt) + cnt + 1, pure long
        // arithmetic — exact at any corpus size that fits a long
        (lit(2L) * (col("boff") + col("cum") - col("cnt")) +
          col("cnt") + lit(1L)).as("r"))
  }

  /** PUBLIC API — per-group Spearman rank-correlation matrix: Pearson
    * ([[corrMatrix]]) over tie-averaged ranks. Monotone-transform
    * invariant and outlier-robust where q164's Pearson is neither; the
    * matrix shape, NULL contract, and decimal-moment oracle parity are
    * corrMatrix's own (ranks are exact half-integers, so every moment
    * input replays).
    *
    * MELTED single-pass shape (r13, was k rank builds + k fact joins):
    * one fact pass melts all k columns to (g, name, v) and builds every
    * column's distinct-value counts together; [[rankFrameAll]] ranks
    * them with per-(g, name) blocked prefix sums; a second fact pass
    * melts each row WITH a row id, picks up its k ranks in ONE
    * equi-join on (g, name, v), and reassembles the wide rank row by
    * id in one shuffle. Two fact passes + two fact-sized shuffles
    * total, independent of k — the old shape paid k fact scans and k
    * wide-fact join shuffles.
    *
    * Values are compared as doubles on both sides of the rank join, so
    * inputs must be exactly double-representable (integers, decimals
    * within 2^53 — every fixture measure). NULL handling is
    * complete-case, matching [[corrMatrix]]: a NULL entry finds no
    * rank, pivots back as a NULL rank, and corrMatrix drops the row.
    *
    * The moment pass runs corrMatrix's paired-longs path on the
    * DOUBLED long ranks (see [[rankFrameAll]] for the bit-equality
    * argument): terms are long products (2r)² ≤ (2n_g)² per group, so
    * exactness holds while the largest per-group rank stays below
    * 2^31 ≈ 2.1e9 rows per group (sf1000-lineitem territory); past
    * that, fall back to pairedColScale = None. */
  def spearman(base: DataFrame, cols: Seq[String],
      bins: Int = 256): DataFrame = {
    def entries = explode(array(cols.map(c =>
      struct(lit(c).as("name"), col(c).cast("double").as("v"))): _*))
    val melted = base.select(col("g"), entries.as("e"))
      .select(col("g"), col("e.name").as("name"), col("e.v").as("v"))
    // fact pass 1: every column's distinct-value counts in one scan.
    // NULL entries are dropped BEFORE ranking: a NULL distinct-value
    // row would otherwise land in the top range block (least() skips
    // NULLs, so blk = bins-1) and, with NULLS-FIRST ordering, inflate
    // every real rank in that block — while contributing nothing
    // downstream, since a NULL never survives the probe equi-join.
    val vals = melted.where(col("v").isNotNull)
      .groupBy(col("g"), col("name"), col("v"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    val ranks = rankFrameAll(vals, bins)
    // fact pass 2: probe rows pick up their ranks (one equi-join) and
    // reassemble by row id (one shuffle); the id never leaves the plan
    val probe = base.withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), col("g"), entries.as("e"))
      .select(col("rid"), col("g"), col("e.name").as("name"),
        col("e.v").as("v"))
      .join(ranks, Seq("g", "name", "v"))
    val pivots = cols.map(c =>
      max(when(col("name") === c, col("r"))).as(c))
    val ranked = probe.groupBy(col("rid"), col("g"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("g") +: cols.map(col): _*)
    corrMatrix(ranked, cols, pairedColScale = Some(0))
      .withColumnRenamed("corr", "rho")
  }

  /** PUBLIC API — per-group lag-k autocorrelation of a regular (daily)
    * series (g, d: date, x): one row per (g, lag ≤ maxLag) with the
    * textbook sample ACF ρ(k) = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²,
    * x̄ the full-series mean; both sums expand to decimal moment sums
    * of integer-derived terms, so DuckDB replays every value. Pairs
    * exist only where BOTH days are observed (a gapped lag contributes
    * nothing); lags with no pair are absent; a constant series (zero
    * variance) emits NULL. The series frame is checkpointed once —
    * groups × days rows — and every downstream step (lag self-join,
    * moment folds) touches only that tiny frame, never the fact. */
  def autocorr(series: DataFrame, maxLag: Int): DataFrame = {
    val s = series.select(col("g"), col("d"), col("x")).localCheckpoint()
    val tot = s.groupBy(col("g")).agg(
      count(lit(1)).as("n"), exactSum(col("x")).as("sx"),
      exactSum(col("x") * col("x")).as("sxx"))
    // equi-join on (g, d + lag): the lag target date is projected on
    // the probe side so this is a hash/sort join on the day key, never
    // a per-group day×day cross join
    val pairs = s
      .select(col("g"), col("d"), col("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .withColumn("d2", date_add(col("d"), col("lag")))
      .join(s.select(col("g"), col("d").as("d2"), col("x").as("x2")),
        Seq("g", "d2"))
    pairs.groupBy(col("g"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), exactSum(col("x") * col("x2")).as("sxy"),
        exactSum(col("x")).as("sa"), exactSum(col("x2")).as("sb"))
      .join(tot, "g")
      .select(col("g"), col("lag"), col("n").as("n_days"), col("n_pairs"),
        (col("sx") / col("n")).as("xbar"), col("sxy"), col("sa"), col("sb"),
        col("sxx"), col("n"))
      .select(col("g"), col("lag"), col("n_days"), col("n_pairs"),
        when(col("sxx") - col("n") * col("xbar") * col("xbar") > 0,
          round((col("sxy") - col("xbar") * (col("sa") + col("sb")) +
            col("n_pairs") * col("xbar") * col("xbar")) /
            (col("sxx") - col("n") * col("xbar") * col("xbar")), 9))
          .otherwise(lit(null)).as("acf"))
      .orderBy(col("g").asc_nulls_last, col("lag").asc_nulls_last)
  }

  /** Q164: correlation matrix of the four lineitem numeric measures
    * per return flag — the per-segment redundancy audit. The fixture
    * generates price independently of quantity, so the matrix is
    * near-diagonal; the audit's value is exactly that it PROVES the
    * independence instead of assuming it. */
  // paired-longs bound proof (pairedColScale = 2): every input is
  // decimal(12,2) (exact at 2 dp ✓); the largest scaled column is
  // l_extendedprice·100 < 1.1e7, so the largest product term is
  // < 1.21e14 ≪ 2^63, and per-group Σhi < (1.21e14/2^30)·rows ≈
  // 1.1e5·rows — safe past 10^13 rows
  private def q164(s: SparkSession, dir: String): DataFrame =
    corrMatrix(
      Tables.t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax")),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      pairedColScale = Some(2))

  private val q164Cols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The `m` CTE's moment-sum select lines over [[q164Cols]] (s_, ss_
    * and the pairwise sp_ sums), shared by the Pearson and Spearman
    * oracles. */
  private val q164SumsSql = (q164Cols.map(c => s"    ${Canon.sqlMomentSum(c)} AS s_$c") ++
    q164Cols.map(c => s"    ${Canon.sqlMomentSum(s"$c * $c")} AS ss_$c") ++
    q164Cols.combinations(2).map { case Seq(a, b) =>
      s"    ${Canon.sqlMomentSum(s"$a * $b")} AS sp_${a}_$b"
    }).mkString(",\n")

  /** One (g, col_x, col_y, n, dx, dy, cov) select from `m` per column
    * pair, UNION ALL-ed: the `p` CTE body of both matrix oracles. */
  private val q164PairsSql = q164Cols.combinations(2).map { case Seq(a, b) =>
    s"""  SELECT g, '$a' AS col_x, '$b' AS col_y, n,
       |    n * ss_$a - s_$a * s_$a AS dx, n * ss_$b - s_$b * s_$b AS dy,
       |    n * sp_${a}_$b - s_$a * s_$b AS cov FROM m""".stripMargin
  }.mkString("\nUNION ALL\n")

  private val q164Sql: String =
    s"""WITH m AS (
       |  SELECT l_returnflag AS g, CAST(COUNT(*) AS DOUBLE) AS n,
       |$q164SumsSql
       |  FROM lineitem
       |  WHERE ${q164Cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}
       |  GROUP BY 1),
       |p AS (
       |$q164PairsSql)
       |SELECT g, col_x, col_y, CAST(n AS BIGINT) AS n,
       |  CASE WHEN dx * dy > 0 THEN ROUND(cov / SQRT(dx * dy), 9) END AS corr
       |FROM p
       |ORDER BY g ASC NULLS LAST, col_x ASC NULLS LAST, col_y ASC NULLS LAST""".stripMargin

  /** Q165: Cramér's V for three audited categorical pairs across three
    * tables — order status×priority, lineitem flag×status, document
    * lang×source. One scan per table, union of three 1-row results. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val li = cramersV(Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("a"), col("l_linestatus").as("b")),
      "lineitem.returnflag_x_linestatus")
    val ord = cramersV(Tables.t(s, dir, "orders")
      .select(col("o_orderstatus").as("a"), col("o_orderpriority").as("b")),
      "orders.status_x_priority")
    val doc = cramersV(Tables.t(s, dir, "documents")
      .select(col("lang").as("a"), col("source").as("b")),
      "documents.lang_x_source")
    li.unionAll(ord).unionAll(doc).orderBy(col("pair").asc_nulls_last)
  }

  private def cramersSql(from: String, a: String, b: String,
      pairName: String): String =
    s"""  SELECT '$pairName' AS pair, CAST(n AS BIGINT) AS n, r, c,
       |    (r - 1) * (c - 1) AS dof,
       |    ROUND(GREATEST(sumsq - CAST(n AS DOUBLE), 0.0), 9) AS chi2,
       |    CASE WHEN LEAST(r, c) > 1 THEN
       |      ROUND(SQRT(GREATEST(sumsq - CAST(n AS DOUBLE), 0.0) /
       |        (CAST(n AS DOUBLE) *
       |          CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 9) END AS v
       |  FROM (
       |    SELECT MAX(nn) AS n, COUNT(DISTINCT a) AS r,
       |      COUNT(DISTINCT b) AS c,
       |      CAST(SUM(term) AS DOUBLE) AS sumsq
       |    FROM (
       |      SELECT a, b, o, nn,
       |        CAST(CAST(o AS DOUBLE) * CAST(o AS DOUBLE) / e
       |          AS DECIMAL(38,12)) AS term
       |      FROM (
       |        SELECT a, b, o,
       |          SUM(o) OVER () AS nn,
       |          CAST(SUM(o) OVER (PARTITION BY a) AS DOUBLE) *
       |            CAST(SUM(o) OVER (PARTITION BY b) AS DOUBLE) /
       |            CAST(SUM(o) OVER () AS DOUBLE) AS e
       |        FROM (SELECT $a AS a, $b AS b, COUNT(*) AS o
       |              FROM $from GROUP BY 1, 2) cells) marg) terms)""".stripMargin

  private val q165Sql: String =
    Seq(
      cramersSql("lineitem", "l_returnflag", "l_linestatus",
        "lineitem.returnflag_x_linestatus"),
      cramersSql("orders", "o_orderstatus", "o_orderpriority",
        "orders.status_x_priority"),
      cramersSql("documents", "lang", "source",
        "documents.lang_x_source"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY pair ASC NULLS LAST")

  /** Q166: Spearman matrix of the same four lineitem measures per
    * return flag — q164's robust twin. Where Pearson reads tail-driven
    * co-movement, rank correlation reads the monotone relationship the
    * feature-selection question actually asks about. */
  // r17 quiet re-pin (VERDICT r16 item 3): the r16 keyless fanOut
  // REVERTED on measurement — same-window median-of-5 walls 7.79 s
  // fanned vs 6.34 s plain (r15 pre-fanOut pin 6.52) and 2.1× the
  // summed task time (27.9 s vs 13.2). The round-robin exchange paid
  // its local sort + a full extra pass over the melt input for
  // parallelism the 32-way explode then burned in memory-bandwidth
  // contention; the r16 "14 s single-task stage" reading was from a
  // window later stamped noisy.
  private def q166(s: SparkSession, dir: String): DataFrame =
    spearman(
      Tables.t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax")),
      q164Cols)

  private val q166Sql: String = {
    val rankCtes = q164Cols.map(c =>
      s"""rk_$c AS (
         |  SELECT g, v, SUM(cnt) OVER (PARTITION BY g ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) - cnt + (cnt + 1) / 2.0 AS rnk
         |  FROM (SELECT g, $c AS v, COUNT(*) AS cnt FROM r GROUP BY 1, 2))""")
      .mkString(",\n")
    val joins = q164Cols.zipWithIndex.map { case (c, i) =>
      s"JOIN rk_$c j$i ON r.g = j$i.g AND r.$c = j$i.v"
    }.mkString("\n    ")
    val rankedCols = q164Cols.zipWithIndex
      .map { case (c, i) => s"j$i.rnk AS $c" }.mkString(", ")
    s"""WITH r AS (
       |  SELECT l_returnflag AS g, l_quantity, l_extendedprice,
       |    l_discount, l_tax FROM lineitem),
       |$rankCtes,
       |ranked AS (
       |  SELECT r.g, $rankedCols
       |  FROM r
       |    $joins),
       |m AS (
       |  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
       |$q164SumsSql
       |  FROM ranked GROUP BY 1),
       |p AS (
       |$q164PairsSql)
       |SELECT g, col_x, col_y, CAST(n AS BIGINT) AS n,
       |  CASE WHEN dx * dy > 0 THEN ROUND(cov / SQRT(dx * dy), 9) END AS rho
       |FROM p
       |ORDER BY g ASC NULLS LAST, col_x ASC NULLS LAST, col_y ASC NULLS LAST""".stripMargin
  }

  /** Q167: lag-1..7 autocorrelation of the daily event-count series
    * per event type — "is ingest volume mean-reverting, trending, or
    * weekly-periodic", the time-axis companion to q156's drift series.
    * Counts are exact integers, so the whole chain replays. */
  private def q167(s: SparkSession, dir: String): DataFrame =
    autocorr(
      Tables.t(s, dir, "events")
        .groupBy(col("event_type").as("g"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("x")),
      maxLag = 7)

  private val q167Sql: String =
    s"""WITH s AS (
       |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
       |    CAST(COUNT(*) AS DOUBLE) AS x
       |  FROM events GROUP BY 1, 2),
       |tot AS (
       |  SELECT g, COUNT(*) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
       |  FROM s GROUP BY 1),
       |pr AS (
       |  SELECT a.g, lag, COUNT(*) AS n_pairs,
       |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE) AS sa,
       |    CAST(SUM(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE) AS sb
       |  FROM s a
       |    CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
       |    JOIN s b ON a.g = b.g AND b.d = a.d + CAST(lag AS INTEGER)
       |  GROUP BY 1, 2)
       |SELECT pr.g, lag, n AS n_days, n_pairs,
       |  CASE WHEN sxx - n * (sx / n) * (sx / n) > 0 THEN
       |    ROUND((sxy - (sx / n) * (sa + sb) + n_pairs * (sx / n) * (sx / n))
       |      / (sxx - n * (sx / n) * (sx / n)), 9) END AS acf
       |FROM pr JOIN tot ON pr.g = tot.g
       |ORDER BY pr.g ASC NULLS LAST, lag ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q164_corr_matrix", q164, Some(q164Sql)),
    QueryDef("q165_cramers_v", q165, Some(q165Sql)),
    QueryDef("q166_spearman", q166, Some(q166Sql)),
    QueryDef("q167_autocorr", q167, Some(q167Sql)))
}
