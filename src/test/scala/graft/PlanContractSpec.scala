package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate (VERDICT r6 #4): for a curated set of
  * scale-critical batch queries, count the load-bearing physical-plan
  * features of the EXECUTED (post-AQE) plan — shuffle exchanges,
  * broadcast exchanges, exchange reuses, sort-merge vs broadcast joins,
  * whole-stage-codegen spans, dynamic-partition-pruning, and SOURCE
  * SCANS — and diff them against the checked-in contract
  * (`src/test/resources/plan-contracts.tsv`).
  * A silent plan regression (lost broadcast, extra shuffle, a codegen
  * break) then fails `sbt test` instead of waiting for a bench anomaly.
  *
  * `scans` counts file-source scan nodes (v1 FileSourceScanLike + v2
  * BatchScanExec) in the walked executed plan — NOT checkpoint
  * RDDScans. This is the contract the r10 q150 bug needed: an
  * uncheckpointed iterative operator re-derives its source lineage
  * once per branch (2^passes parquet scans) while its shuffle/codegen
  * counts stay plausible; the scan count is where the explosion shows.
  * Subtrees under a ReusedExchange are counted once, at their original
  * site (reuse is its own column).
  *
  * After an INTENTIONAL plan change, regenerate with
  *   GRAFT_WRITE_PLAN_CONTRACTS=1 sbt "testOnly graft.PlanContractSpec"
  * and review the .tsv diff like any other code change. Write mode
  * never lowers a stored prejobs budget (see the upper-bound note
  * below); to lower budgets, strip ` prejobs=N` from the .tsv first and
  * regenerate in a fresh JVM — the field-upgrade path then records the
  * fresh-JVM counts.
  *
  * The former blind spot — a query that runs an EAGER side job at
  * DataFrame-construction time exposes only its FINAL plan to the
  * shape walk — is closed by the `prejobs=N` field (r14, VERDICT r13
  * item 5): each constructor runs under a unique Spark job group and
  * the number of jobs it launches is contracted alongside the plan
  * shape. The known pre-pass operators and their contracted budgets:
  * q101_pca_power/q101_pca_project (fit + persist / model load),
  * q160_containment & q163_containment_keep (strategy-election
  * df-histogram head()), the refined-quantile bracket family
  * (q150/q151/q152/q155 — bracket passes + localCheckpoints), and
  * q29_ann_lsh/q29_lsh_scaled (bucket-width election count), and
  * q28_dedup_simhash/q82_split_leakage (r15: the 60-bit hash is
  * localCheckpointed and the per-tier candidate-mass histogram runs as
  * a pre-pass, so the FINAL plan has scans=0 — the corpus is read once
  * in the prejobs window and the blocking election is mass-measured). A
  * fact-sized pre-pass sneaking into any constructor now bumps its
  * prejobs count and fails the diff. Opening a fixture table is not a
  * prejob: `Tables.t` reads the parquet footer on the driver, where a
  * bare `read.parquet` runs one schema-inference job per open.
  * (prejobs counts JOBS, not scans:
  * a localCheckpoint materialization and a 1-row head() both count 1 —
  * the budget catches NEW pre-passes, the per-site scaladocs still owe
  * the cost argument.)
  */
class PlanContractSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The contracted queries: every batch operator in the registry.
    * Excluded: streaming queries (q24/q25/q36/q49/q51/q75 — their
    * micro-batch plans are asserted in StreamingSpec) and the write-sink
    * queries (q02 sinks, q44, q48, q65, q76, q79 — the returned DataFrame is a
    * post-hoc summary read whose shape says nothing about the write;
    * their layout claims are asserted in their own specs). */
  private val Contracted: Seq[String] = Seq(
    "q01_scan_filter", "q03_repartition_hash", "q04_repartition_rr",
    "q05_orderby_range", "q06_groupby_count", "q07_tpch_q1",
    "q08_combine_avg", "q09_distinct_agg", "q10_rollup",
    "q11_approx_distinct", "q11_distinct_exact",
    "q12_join_sortmerge", "q13_join_broadcast",
    "q14_join_outer", "q15_join_semi_anti", "q16_join_skew",
    "q17_join_theta", "q18_window_rank", "q19_window_frame", "q20_topk",
    "q21_setops", "q22_scalar_funcs", "q23_array_funcs", "q23_json_funcs",
    "q26_dedup_exact", "q27_dedup_minhash", "q27_dedup_ngram",
    "q28_dedup_simhash", "q28_simhash_combo", "q28_simhash_wide",
    "q28_dedup_embed",
    "q29_ann_brute",
    "q29_ann_lsh", "q29_ann_ivf", "q29_lsh_cands", "q29_lsh_scaled",
    "q29_ivf_cands",
    "q29_token_counts", "q29_token_regex", "q30_udf_udaf",
    "q31_text_stats", "q32_lang_id", "q33_fingerprint",
    "q34_media_meta", "q34_media_decode", "q34_media_resize",
    "q34_png_decode", "q34_wav_decode", "q34_video_frames",
    "q35_corpus_pipeline", "q37_interval_join", "q38_asof_join",
    "q39_percentiles", "q40_pivot", "q41_salted_agg", "q42_tpch_q3",
    "q43_tpch_q5", "q45_window_funcs", "q46_json_struct",
    "q47_subqueries", "q50_bucketed_join", "q52_contamination",
    "q53_stratified_mix", "q54_schema_evolution", "q55_dedup_clusters",
    "q56_seq_packing", "q57_bm25", "q58_quality_filter",
    "q59_doc_chunks", "q60_batch_sessions", "q61_label_centroids",
    "q62_fuzzy_join", "q63_tpch_q7", "q64_tpch_q18", "q66_upsert",
    "q67_tfidf_keywords", "q68_funnel", "q69_retention",
    "q70_pii_redact", "q71_repetition_collapse", "q72_unigram_nll",
    "q73_bpe_pairs", "q74_pagerank", "q77_dpp_join", "q78_table_diff",
    "q80_bloom_join", "q81_cdc_dedup", "q82_split_leakage",
    "q83_bpe_encode", "q84_temperature_mix", "q85_quality_score",
    "q86_semdedup", "q86_semdedup_scaled", "q87_bigram_lm", "q88_dsir",
    "q89_stream_upsert",
    "q90_hll_profile", "q90_distinct_exact", "q91_source_quota",
    "q92_heavy_hitters", "q92_hitters_exact", "q93_threshold_alerts",
    "q94_tpch_q21", "q95_incremental_dedup", "q96_hrw_shards",
    "q97_phash_dedup", "q97_phash_wide",
    "q98_pq_codes", "q98_ann_pq", "q99_tpch_q2",
    "q100_notin_naaj", "q101_pca_power", "q101_pca_project",
    "q102_ann_ivfpq", "q103_tpch_q4", "q104_tpch_q6", "q105_tpch_q8",
    "q106_tpch_q9", "q107_tpch_q10", "q108_tpch_q11", "q109_tpch_q12",
    "q110_tpch_q13", "q111_tpch_q14", "q112_tpch_q15", "q113_tpch_q16",
    "q114_tpch_q17", "q115_tpch_q19", "q116_tpch_q20", "q117_tpch_q22",
    "q118_rrf_fusion", "q119_cube", "q120_triangles",
    "q121_standardize", "q122_entity_canonical", "q123_hist_quantiles",
    "q124_winsorize", "q125_weighted_sample", "q126_quantile_transform",
    "q127_skyline", "q128_delta_agg", "q129_data_contract",
    "q130_resample_ffill", "q131_transitions", "q132_logreg_train",
    "q133_kcore", "q134_item_sim", "q135_scd2", "q136_cuped",
    "q137_attribution", "q138_novelty", "q139_budget_select",
    "q140_diversity", "q141_twap", "q142_k_anonymity", "q143_mom_growth",
    "q144_conversion_lag", "q145_span_report", "q146_weighted_shards",
    "q147_ols_by_group", "q148_basket_lift", "q149_sliding_distinct",
    "q150_mad_outliers", "q151_gini", "q152_robust_profile",
    "q153_dist_drift", "q154_cat_drift", "q155_table_profile",
    "q156_drift_series", "q157_ks_test", "q158_stream_drift",
    "q159_vocab_richness", "q160_containment", "q161_weighted_median",
    "q162_vocab_diversity", "q163_containment_keep", "q164_corr_matrix",
    "q165_cramers_v", "q166_spearman", "q167_autocorr", "q168_stream_corr", "q169_changepoint", "q170_hazard", "q171_trend",
    "q172_rolling_trend", "q173_seasonality", "q174_l_diversity",
    "q175_ref_integrity", "q176_fd_audit", "q177_benford",
    "q178_stream_slope", "q179_lead_lag", "q180_seasonal_anomaly")

  private val ContractPath =
    java.nio.file.Paths.get("src/test/resources/plan-contracts.tsv")

  /** Walk the FINAL adaptive plan, descending through the AQE wrappers
    * (QueryStageExec is a leaf node whose real subtree hangs off
    * `.plan`). ReusedExchangeExec is NOT descended — its shared subtree
    * is already walked at its original site; reuse is its own count. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => Seq.empty
    }
    p +: (inner ++ p.children.flatMap(walk))
  }

  private final case class Shape(shuffles: Int, broadcasts: Int, reuses: Int,
      smj: Int, bhj: Int, bnlj: Int, codegen: Int, scans: Int, dpp: Boolean,
      bloom: Boolean, gwin: Int, prejobs: Int) {
    def render: String = s"shuffles=$shuffles broadcasts=$broadcasts " +
      s"reuses=$reuses smj=$smj bhj=$bhj bnlj=$bnlj codegen=$codegen " +
      s"scans=$scans dpp=$dpp bloom=$bloom gwin=$gwin prejobs=$prejobs"
  }

  /** Construct the query in a unique metrics window and count the EAGER
    * Spark jobs its constructor runs (election head()s, refined-
    * quantile bracket passes, localCheckpoints, fits) — the r13
    * blind spot, now a contracted number: a fact-sized pre-pass
    * slipping into a constructor shows up as a prejobs bump even
    * though the returned plan reads clean. The window isolates the
    * constructor from concurrently running suites. */
  private def measure(name: String): Shape = {
    val window = s"prejobs-$name-${System.nanoTime()}"
    val df = Metrics.measured(spark, window)(SparkEntry.queries(name)(spark, sf))
    val pre = Metrics.take(spark, Seq(window))(window).jobs.toInt
    shapeOf(df).copy(prejobs = pre)
  }

  /** Shape of the returned plan; `prejobs` is filled by [[measure]]. */
  private def shapeOf(df: DataFrame): Shape = {
    // contracts describe the COLD plan: a cached DataFrame left behind
    // by an earlier suite would be silently substituted into any query
    // sharing its subplan (CacheManager plan matching), collapsing its
    // codegen spans and failing the diff depending on suite order
    df.sparkSession.catalog.clearCache()
    // collect() executes the DataFrame's OWN QueryExecution (a noop
    // write would build a separate command QE and leave this one
    // unfinalized), so the walk below sees the post-AQE final plan
    df.collect()
    val nodes = walk(df.queryExecution.executedPlan)
    // codegen spans are counted from the FORMATTED executed plan: under
    // AQE the WholeStageCodegen wrappers live in the materialized stage
    // clones, not in the `QueryStageExec.plan` subtrees the node walk
    // sees, but the formatted explain prints the real spans
    val formatted = Metrics.executedPlanString(df.queryExecution)
    Shape(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      reuses = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      codegen = "\\[codegen id : (\\d+)\\]".r
        .findAllMatchIn(formatted).map(_.group(1)).toSet.size,
      scans = nodes.count(n =>
        n.isInstanceOf[FileSourceScanLike] || n.isInstanceOf[BatchScanExec]),
      dpp = formatted.contains("dynamicpruning"),
      bloom = formatted.contains("might_contain"),
      // gwin: UNPARTITIONED window/window-group-limit nodes — a global
      // serial stage (single-partition sort + one task). Legitimate only
      // over a provably bounded frame; a fact-sized frame slipping into
      // one would read green on every other column (the r12 VERDICT #3
      // blind spot, the serial-stage twin of scans=N)
      gwin = nodes.count {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.isEmpty
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.partitionSpec.isEmpty
        case _ => false
      },
      prejobs = 0)
  }

  private lazy val observed: Map[String, Shape] =
    Contracted.map { name => name -> measure(name) }.toMap

  private lazy val writeMode = sys.env.contains("GRAFT_WRITE_PLAN_CONTRACTS")

  test("contract file is regenerable and covers exactly the curated set") {
    if (writeMode) {
      // the reuse race (see the assert-mode retry below) poisons WRITE
      // mode too: a full regen run is exactly the loaded-machine case,
      // so a row can capture the raced non-reused shape and silently
      // rewrite a correct contract (observed r12 on q27_dedup_ngram).
      // For rows that CHANGE vs the existing file, recompute once quiet
      // and keep the old contract if the retry reproduces it.
      val old: Map[String, String] =
        if (java.nio.file.Files.exists(ContractPath))
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(ContractPath)).asScala
            .filter(_.nonEmpty)
            .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
        else Map.empty
      // field-evolution shim: a prior-format row (no prejobs field)
      // that matches the observed shape on every shared field is an
      // UNCHANGED row being upgraded, not a plan change — no retry
      def legacy(s: String): String = s.replaceAll(" prejobs=\\d+", "")
      val lines = Contracted.map { n =>
        val got = observed(n).render
        val fin = old.get(n) match {
          // only the prejobs count dropped (base fields identical):
          // a warmed cache skipped a setup-once constructor's jobs —
          // keep the stored fresh-JVM budget, don't ratchet it down
          case Some(prev) if prev != got && matchesContract(got, prev) =>
            prev
          case Some(prev) if prev != got && prev != legacy(got) =>
            val re = measure(n).render
            if (re == prev || matchesContract(re, prev)) prev
            else { info(s"contract CHANGED for $n: $prev -> $re"); re }
          case Some(prev) if prev != got =>
            // old-format row baptized with the observed field values —
            // surface them so the tsv diff review can eyeball nonzero
            // gwin instead of it slipping in with the format upgrade
            info(s"contract field-upgraded for $n: $prev -> $got")
            got
          case _ => got
        }
        s"$n\t$fin"
      }
      java.nio.file.Files.createDirectories(ContractPath.getParent)
      java.nio.file.Files.writeString(ContractPath,
        lines.mkString("", "\n", "\n"))
      info(s"wrote ${Contracted.size} contracts to $ContractPath")
    } else {
      assert(java.nio.file.Files.exists(ContractPath),
        s"missing $ContractPath — run with GRAFT_WRITE_PLAN_CONTRACTS=1 once")
      val keys = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(ContractPath)).asScala
        .filter(_.nonEmpty).map(_.split("\t")(0)).toSet
      assert(keys == Contracted.toSet,
        s"contract file out of sync: missing=${Contracted.toSet.diff(keys)} " +
          s"stale=${keys.diff(Contracted.toSet)} — regenerate")
      // the asserted count, printed so ledger claims quote the spec's
      // own number instead of hand-counting the tsv (r15 had a
      // "193/193" claim against a 192-row file — VERDICT r15 item 7)
      info(s"asserting ${Contracted.size} plan contracts " +
        s"(${keys.size} tsv rows)")
    }
  }

  private lazy val contracts: Map[String, String] =
    if (writeMode) observed.map { case (k, v) => k -> v.render }
    else scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(ContractPath)).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  private val PrejobsRe = " prejobs=(\\d+)".r
  private def splitPrejobs(s: String): (String, Int) =
    (PrejobsRe.replaceAllIn(s, ""),
      PrejobsRe.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(-1))

  /** prejobs is an UPPER-BOUND contract, every other field exact: a
    * setup-once constructor (q50's bucketed-table write, q54's schema
    * versions, q77's partitioned sink) legitimately runs ZERO eager
    * jobs when an earlier suite already materialized its table, so
    * equality is order-dependent under the parallel suite — but a NEW
    * pre-pass can only push the count ABOVE the fresh-JVM budget the
    * write-mode regen recorded, which is the regression the field
    * exists to catch. */
  private def matchesContract(got: String, contract: String): Boolean = {
    val (gb, gp) = splitPrejobs(got)
    val (cb, cp) = splitPrejobs(contract)
    gb == cb && gp <= cp
  }

  Contracted.foreach { name =>
    test(s"$name executed-plan shape matches its contract") {
      // one recompute on mismatch: under the full parallel suite, AQE
      // stages with identical canonical subtrees can race — both
      // materialize before either lands in the reuse cache, so a
      // broadcast that reuses when quiet counts as a second exchange
      // under load (observed once on q27 in a full run; alone it always
      // reuses). A REAL plan regression reproduces on the quiet retry.
      val got0 = observed(name).render
      val got = if (matchesContract(got0, contracts(name))) got0
        else measure(name).render
      assert(matchesContract(got, contracts(name)),
        s"\nPLAN REGRESSION in $name\n  contract: ${contracts(name)}\n" +
          s"  observed: $got\n(prejobs is a <= bound; other fields exact)" +
          "\nIf intentional, regenerate with " +
          "GRAFT_WRITE_PLAN_CONTRACTS=1 sbt 'testOnly graft.PlanContractSpec'")
    }
  }
}
