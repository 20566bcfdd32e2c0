package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G7 deduplication operators over the `documents` table.
  *
  * Exact dedup is a hash group-by (exchange + first-agg — the reference's
  * dedup-set machinery writ large,
  * celeborn: client/src/main/java/org/apache/celeborn/client/read/CelebornInputStream.java:864-899).
  * Near-dup is MinHash+LSH (band-bucket join — no O(n²) pair scan),
  * an exact inverted-index n-gram Jaccard join, and SimHash with
  * pigeonhole band blocking. SimHash bit hashes are md5-derived so the
  * DuckDB oracle can replay them; MinHash uses codegen'd xxhash64 (the
  * oracle verifies its candidates by exact Jaccard, not by replaying
  * the family). No RNG anywhere — fixed seeds, deterministic output.
  *
  * Scale notes: every operator is a sequence of hash-partitioned
  * exchanges on bounded keys (shingle, band bucket) — no driver
  * collection, no cross join. Hot keys are bounded by two mechanisms
  * (the same lesson as celeborn's skew split,
  * CelebornPartitionUtil.java:60-100), both exercised by DedupBoundsSpec:
  *   - [[ngramJaccardPairs]] removes shingles whose document frequency
  *     exceeds `dfCap` BEFORE the posting lists are collected (stop-
  *     shingle removal), so no posting array or pair fan-out ever sees
  *     a hot shingle;
  *   - [[simhashPairs]] and [[embedCosinePairs]] run their bucket-local
  *     pair generation through [[boundedPairs]], which salts any bucket
  *     larger than `maxBucket` into sub-cells of bounded size (lossless
  *     triangle replication), so one crowded bucket is many small task
  *     arrays instead of one huge one.
  */
object Dedup {

  /** All unordered pairs within each `keys` group of `rows`, with every
    * task-local array bounded by ~2×`maxGroup` elements.
    *
    * `rows` must carry the key columns plus a struct column `p` whose
    * field `idField` is a unique id. Groups of n ≤ maxGroup take the
    * plain path (one collect_list + double-explode). Larger groups are
    * salted into g = ceil(n / maxGroup) sub-groups and each element is
    * replicated to the g triangle cells (si ≤ sj) containing its salt,
    * so every cross-salt pair is generated by exactly one cell and every
    * cell's array holds at most two sub-groups (~2×maxGroup elements) —
    * LOSSLESS, unlike sampling: DedupBoundsSpec asserts set equality
    * with the unsalted path. Total pair work is unchanged (inherent to
    * exact within-bucket pairing); what the salt bounds is per-task
    * memory and the size of the quadratic candidate stream any single
    * task owns. Group sizes come from an unordered count-window over the
    * keys (spill-safe), g = 1 groups reduce to the round-3 plan.
    *
    * Output: columns `x`, `y` — the two payload structs, canonically
    * ordered by `idField` (x.id < y.id), each pair exactly once per key
    * group. The `graft_pair_cells` observed metric reports the max cell
    * array size for monitoring the bound in production. */
  private[graft] def boundedPairs(rows: DataFrame, keys: Seq[String],
      idField: String, maxGroup: Int): DataFrame = {
    require(maxGroup >= 2, "maxGroup must be >= 2")
    val kc = keys.map(col)
    val n = count(lit(1)).over(Window.partitionBy(kc: _*))
    val xid = col(s"x.p.$idField")
    val yid = col(s"y.p.$idField")
    rows
      .withColumn("g", (floor((n - 1) / lit(maxGroup)) + 1).cast("int"))
      .withColumn("salt",
        pmod(xxhash64(col(s"p.$idField")), col("g").cast("bigint")).cast("int"))
      .select((kc :+ col("salt") :+ col("p") :+
        explode(sequence(lit(0), col("g") - 1)).as("o")): _*)
      .groupBy((kc :+ least(col("salt"), col("o")).as("si") :+
        greatest(col("salt"), col("o")).as("sj")): _*)
      .agg(collect_list(struct(col("salt"), col("p"))).as("ds"))
      .observe("graft_pair_cells",
        max(size(col("ds"))).as("max_cell"), count(lit(1)).as("n_cells"))
      .select(col("si"), col("sj"), explode(col("ds")).as("x"), col("ds"))
      .select(col("si"), col("sj"), col("x"), explode(col("ds")).as("y"))
      // same cell: id order dedups; cross cell: x from salt si, y from
      // salt sj — each pair generated by exactly one (si, sj) cell
      .where((col("si") === col("sj") && xid < yid) ||
        (col("si") < col("sj") &&
          col("x.salt") === col("si") && col("y.salt") === col("sj")))
      .select(
        when(xid < yid, col("x.p")).otherwise(col("y.p")).as("x"),
        when(xid < yid, col("y.p")).otherwise(col("x.p")).as("y"))
  }

  /** Word 3-gram shingle set per document (empty for docs < 3 tokens).
    * The token array is materialized ONCE per row in its own projection —
    * putting `split(text)` inside the transform lambda re-tokenizes the
    * whole document per element_at (O(tokens²) interpreted work; higher-
    * order functions are not codegen'd), which dominated the dedup
    * queries' runtime.
    *
    * Shingles are hashed to 64-bit BEFORE the distinct: every downstream
    * exchange, posting list, and set operation works on fixed-width
    * longs instead of ~25-char strings (the standard production-dedup
    * move). Set relations are preserved absent xxhash64 collisions
    * (~n²/2⁶⁵); the oracle verifies by exact string Jaccard, which
    * agrees under the same condition. */
  private[graft] def shingledHashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), " +
            "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"))
          .otherwise(array().cast("array<string>"))).as("s"))
      // hash AFTER the explode: inside the transform lambda xxhash64 runs
      // interpreted per element; here it's one codegen'd projection
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .distinct()


  /** Exact dedup: per-language doc counts, distinct texts, duplicates. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_uniq"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dups"))
      .orderBy(col("lang").asc_nulls_last)

  private val q26Sql =
    """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_uniq,
      |  COUNT(*) - COUNT(DISTINCT text) AS n_dups
      |FROM documents GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** PUBLIC API — MinHash+LSH near-duplicate pairs over any DataFrame
    * with (doc_id, text): minhash signatures, banded candidate join,
    * exact-Jaccard verification. Rows per band = nHashes / nBands;
    * candidate recall follows the standard (1/nBands)^(1/rowsPerBand)
    * S-curve. Deterministic (fixed hash seeds, fully ordered output). */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8,
      nHashes: Int = 12, nBands: Int = 6): DataFrame = {
    require(nHashes % nBands == 0, "nBands must divide nHashes")
    val rowsPerBand = nHashes / nBands
    // No .cache(): a builder returns a lazy plan, so an unpersist could
    // only run before materialization; a leaked cache accumulates executor
    // memory across the 30-query Verify/Bench sweep. Recomputing the
    // shingle scan is cheap relative to the joins; callers that iterate
    // can persist+unpersist around their own materialization.
    val sh = shingledHashed(docs)
    // xxhash64(seed, shingle) is a codegen'd bigint hash — an order of
    // magnitude cheaper than the md5-string family (the oracle verifies
    // candidates by exact Jaccard, so the min-hash family is internal
    // and only its min-wise property matters).
    val mins: Seq[Column] = (0 until nHashes).map(k =>
      min(xxhash64(lit(k), col("sh"))).as(s"m$k"))
    // ONE aggregation pass computes both the 12 min-hashes and the full
    // shingle set per doc: the three downstream consumers (bands, d1-sets,
    // d2-sets) then share an identical agg subplan, which ReuseExchange
    // dedups into a single scan+distinct+shuffle instead of re-running
    // the shingle scan per branch.
    val aggAll = sh.groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+ collect_set(col("sh")).as("shs")): _*)
    // band key = xxhash64 over that band's signature rows. One explode
    // pass, NOT an nBands-way unionAll — union branches re-execute the
    // whole signature aggregation per band.
    val bandStructs = array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          col(s"m${rowsPerBand * b + r}")): _*).as("bk"))): _*)
    val bands = aggAll
      .select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val sets = aggAll.select(col("doc_id"), col("shs"))
    cands
      .join(sets.select(col("doc_id").as("d1"), col("shs").as("sh1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shs").as("sh2")), "d2")
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jac"))
      .where(col("jac") >= threshold)
      .orderBy(col("d1").asc_nulls_last, col("d2").asc_nulls_last, col("jac").asc_nulls_last)
  }

  private def q27(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.fannedDocuments(s, dir))

  /** Exhaustive-exact oracle via an inverted index (any pair with
    * jac > 0 shares a shingle, so no candidate is missed — equivalent to
    * the all-pairs scan but without materializing n²/2 list intersections,
    * which kept DuckDB's memory footprint an order of magnitude lower).
    * The planted near-dups sit at j≈0.99 with a wide gap below 0.2, so
    * 6×2 banding has miss probability < 1e-10 and the LSH result equals
    * the exhaustive result on this data. */
  private val q27Sql = Dedup.jaccardOracleSql(0.8)

  /** PUBLIC API — exact n-gram Jaccard pairs over (doc_id, text) via an
    * inverted-index join on word trigrams: no candidate misses, no
    * O(n²) — up to stop-shingle removal: any shingle whose document
    * frequency exceeds `dfCap` is dropped from EVERY document's set
    * (intersections AND union sizes — consistent Jaccard over the capped
    * shingle universe) BEFORE posting lists are collected, so neither
    * the posting array (≤ dfCap doc ids) nor the pair fan-out
    * (≤ dfCap²/2 per shingle) is ever hot. One stop-shingle at 100 TB
    * would otherwise fan out quadratically in one task. The hot set is
    * tiny by construction and broadcast into an anti-join; the observed
    * metrics `q27_df_cap` (dropped_shingles, max_df) and `q27_postings`
    * (max_posting) report cap activity — DedupBoundsSpec plants a ~90 %
    * hot phrase and asserts both the drop and the planted-pair recall.
    * The default cap never triggers at fixture scale (max df 25 at
    * sf0.1), keeping the registered query equal to the uncapped exact
    * result the oracle computes. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
      dfCap: Int = 10000): DataFrame =
    ngramJaccardPairsImpl(docs, threshold, dfCap, forcePrefix = None)

  /** Implementation with the strategy choice overridable: tests force
    * BOTH branches at the same threshold and assert set-equality (the
    * prefix filter claims "no misses" — DedupSpec proves it
    * differentially rather than by argument alone). */
  private[graft] def ngramJaccardPairsImpl(docs: DataFrame, threshold: Double,
      dfCap: Int, forcePrefix: Option[Boolean]): DataFrame = {
    // no .cache() on the shingles: see minhashPairs
    val (dfc, kept) = dropStopShingles(shingledHashed(docs), dfCap, Some("q27"))

    // Strategy choice, MEASURED both ways at sf0.1 (DedupBoundsSpec
    // carries the candidate-bound evidence):
    //  - t < 0.7: inverted-index pair counting. Prefixes would still be
    //    > (1-t)·|x| of every set while paying three extra exchanges —
    //    the A/B at t=0.5 ran 4x SLOWER with prefix filtering.
    //  - t >= 0.7 (the near-dup regime): AllPairs/PPJoin prefix filter
    //    (Bayardo, Ma, Srikant, WWW '07): under a global rarest-first
    //    total order (df asc, hash asc), J(x,y) >= t implies the first
    //    |x| - ceil(t·|x|) + 1 shingles of x and y intersect, so only
    //    those prefix occurrences — short AND low-df by construction —
    //    enter posting lists; exact Jaccard is then verified per
    //    candidate from the full (capped) shingle sets. No misses.
    val usePrefix = forcePrefix.getOrElse(threshold >= PrefixFilterMinThreshold)
    val pairs =
      if (!usePrefix) postingPairCounts(kept, "q27")
      else {
        // symmetric: prefix postings joined to prefix postings
        val cand = postingLists(probePrefix(kept, dfc, threshold), "q27")
          .select(explode(col("ds")).as("da"), col("ds"))
          .select(col("da"), explode(col("ds")).as("db"))
          .where(col("da") < col("db"))
          .select(col("da").as("d1"), col("db").as("d2"))
          .distinct()
          .observe("q27_prefix_cands", count(lit(1)).as("n_candidates"))
        verifiedIntersections(cand, kept)
      }
    pairs
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("jac"))
      .where(col("jac") >= threshold)
      .orderBy(col("d1").asc_nulls_last, col("d2").asc_nulls_last, col("jac").asc_nulls_last)
  }

  /** The stop-shingle drop shared by the capped-shingle pair index
    * ([[ngramJaccardPairs]], [[containmentPairs]]) and
    * [[containmentShingleSizes]]: per-shingle document frequency `df`,
    * then every shingle with df > `dfCap` removed from every document
    * through a broadcast anti-join (the hot set is tiny by
    * construction). Returns (the (sh, df) counts, the kept (doc_id, sh)
    * rows).
    *
    * `observe = Some(q)` reports cap activity as `<q>_df_cap`
    * (dropped_shingles, max_df). The name is a parameter, not a
    * constant, because observation names must be unique per plan: q163
    * runs [[containmentPairs]] and [[containmentShingleSizes]] in one
    * plan over different DataFrames, and a second `observe` with the
    * same name there fails analysis — so the sizes call passes None. */
  private def dropStopShingles(sh: DataFrame, dfCap: Int,
      observe: Option[String]): (DataFrame, DataFrame) = {
    val counted = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val dfc = observe.fold(counted)(q => counted.observe(s"${q}_df_cap",
      sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("dropped_shingles"),
      max(col("df")).as("max_df")))
    val hot = dfc.where(col("df") > dfCap).select(col("sh"))
    (dfc, sh.join(broadcast(hot), Seq("sh"), "left_anti"))
  }

  /** Inverted-index pair counting over the kept (doc_id, sh) rows: one
    * posting array per shingle (bounded by the stop-shingle drop; the
    * `<q>_postings` metric reports max_posting on live data), pairs by
    * double explode, exact integer intersections. Returns (d1, d2, sz1,
    * sz2, inter) with d1 < d2 and sz the doc's post-cap shingle count.
    *
    * sz rides INSIDE the posting rows (a count window over doc_id, then
    * collect_list of (doc_id, sz) structs), so the Σ C(df, 2)-sized pair
    * stream never joins a corpus-sized frame (r16). The prior plan
    * joined two doc-keyed `sizes` frames onto the aggregated pair
    * stream; those two SMJ shuffles of a fact-sized stream were the
    * measured sf100 melt (q160 831 s / 21.5× second decade, r15f;
    * q27_dedup_ngram 671.5 s / 19×, r16e). The window costs one linear
    * corpus shuffle on the PRE-pair rows (Σ df), strictly cheaper
    * whenever pairs outgrow postings. sz is functionally determined by
    * doc_id, so grouping by (doc, sz) pairs leaves the aggregate
    * unchanged. */
  private def postingPairCounts(kept: DataFrame, q: String): DataFrame =
    kept.withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .observe(s"${q}_postings", max(size(col("ds"))).as("max_posting"))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("inter"))

  /** Posting lists (sh, ds = doc ids) of (doc_id, sh) rows, observed as
    * `<q>_postings` (max_posting). */
  private def postingLists(rows: DataFrame, q: String): DataFrame =
    rows.groupBy(col("sh")).agg(collect_list(col("doc_id")).as("ds"))
      .observe(s"${q}_postings", max(size(col("ds"))).as("max_posting"))

  /** The prefix filter's probe prefix: each doc's first
    * |x| − ⌈t·|x|⌉ + 1 kept shingles in the global rarest-first order
    * (df asc, sh asc), as (sh, doc_id) rows — short AND low-df.
    *
    * The required-intersection bound ⌈t·sz⌉ is taken after a 9-dp
    * pre-round: decimal literals like 0.8 are inexact binary, so the raw
    * product can round UP across an exact integer (0.8·5 →
    * 4.0000000000000004 → ceil = 5), shortening the prefix by one and
    * dropping boundary pairs whose score equals the threshold exactly
    * (r12). */
  private def probePrefix(kept: DataFrame, dfc: DataFrame,
      threshold: Double): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id"))
    kept.join(dfc.select(col("sh"), col("df")), Seq("sh"))
      .withColumn("pos", row_number().over(
        wDoc.orderBy(col("df").asc_nulls_last, col("sh").asc_nulls_last)))
      .withColumn("sz", count(lit(1)).over(wDoc))
      .where(col("pos") <=
        col("sz") - ceil(round(lit(threshold) * col("sz"), 9)) + lit(1))
      .select(col("sh"), col("doc_id"))
  }

  /** Exact verification of (d1, d2) candidates from the full per-doc
    * kept shingle sets (bounded by document length, so the work scales
    * with candidates, not Σ df²): (d1, d2, inter, sz1, sz2). */
  private def verifiedIntersections(cand: DataFrame,
      kept: DataFrame): DataFrame = {
    val docSets = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("shs"))
    cand
      .join(docSets.select(col("doc_id").as("d1"), col("shs").as("shs1")), "d1")
      .join(docSets.select(col("doc_id").as("d2"), col("shs").as("shs2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("shs1"), col("shs2"))).cast("long").as("inter"),
        size(col("shs1")).cast("long").as("sz1"),
        size(col("shs2")).cast("long").as("sz2"))
  }

  /** Above this Jaccard threshold the AllPairs prefix filter wins; below
    * it the plain inverted index does (A/B at sf0.1 in the scaladoc of
    * [[ngramJaccardPairs]]). */
  private val PrefixFilterMinThreshold = 0.7

  private def q28ngram(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.fannedDocuments(s, dir))

  private val q28ngramSql = Dedup.jaccardOracleSql(0.5)

  /** Shared exact-Jaccard oracle (see q27Sql doc). */
  private def jaccardOracleSql(threshold: Double): String =
    s"""WITH ${trigramCteSql("d")},
       |$intersectionCtesSql
       |SELECT d1, d2, jac FROM (
       |  SELECT d1, d2,
       |    inter::DOUBLE / (s1.sz + s2.sz - inter) AS jac
       |  FROM i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id) p
       |WHERE jac >= $threshold
       |ORDER BY d1 ASC NULLS LAST, d2 ASC NULLS LAST, jac ASC NULLS LAST""".stripMargin

  /** PUBLIC API — SimHash near-dup pairs over (doc_id, text):
    * token-frequency simhash of nBands·bandBits bits (≤ 120, carried as
    * two 60-bit words); pairs blocked on nBands bands of bandBits bits —
    * with hamming ≤ nBands−1 at least one band is untouched
    * (pigeonhole), so band blocking is LOSSLESS, not probabilistic.
    * (One-token edits flip up to ~6 bits of a 60-bit simhash on short
    * docs, so a tighter threshold under-recalls.)
    *
    * WIDTH IS THE SCALE KNOB (r13e decade study / VERDICT r13 item 2):
    * every band saturates once group size approaches nBands·2^bandBits
    * distinct keys — the default 10×6-bit layout (64 keys/band)
    * birthday-saturates past n≈10^3 and its candidate mass grew
    * ~n²/12.8 (measured 12.1x per data decade). Widening to 12-bit band
    * keys (4096 keys/band — the q28_simhash_wide registry layout,
    * 8×12 = 96 bits) defers saturation 64x while KEEPING pigeonhole
    * losslessness at its hamming ≤ 7 contract; a band cap would break
    * the no-miss guarantee and is never the answer.
    *
    * Bucket-local pair generation runs through [[boundedPairs]]: the
    * simhash aggregation is computed ONCE (no self-join branches), only
    * ndocs×nBands small rows shuffle, the quadratic candidate stream
    * lives inside one codegen stage (generated, hamming-filtered,
    * discarded — never shuffled), and any bucket past `maxBucket`
    * members — same-language simhashes are correlated, so buckets crowd
    * at any blocking width — is salted into bounded sub-cells instead
    * of one task's unbounded array (the skew-split lesson,
    * CelebornPartitionUtil.java:60-100). DedupBoundsSpec asserts the
    * salted path returns exactly the unsalted pair set and the
    * pigeonhole law at both widths. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8,
      maxBucket: Int = 8192, nBands: Int = 10,
      bandBits: Int = 6, keyBlocks: Int = 1): DataFrame = {
    val nBits = nBands * bandBits
    // no .cache() on the hash: see minhashPairs
    simhashPairsFrom(simhash(docs, nBits), maxHamming, maxBucket,
      nBands, bandBits, keyBlocks)
  }

  /** [[simhashPairs]] body over a PRE-COMPUTED (doc_id, sh0, sh1) hash
    * table — split out so [[simhashPairsAuto]] can hash once and share
    * the result between its election pre-pass and the pair run. */
  private[graft] def simhashPairsFrom(sims: DataFrame, maxHamming: Int,
      maxBucket: Int, nBands: Int, bandBits: Int, keyBlocks: Int): DataFrame = {
    require(maxHamming <= nBands - keyBlocks,
      s"$nBands-band/$keyBlocks-block blocking is lossless only for " +
        s"hamming <= ${nBands - keyBlocks}")
    require(60 % bandBits == 0,
      "bandBits must divide 60 so no band straddles a hash word")
    require(keyBlocks * bandBits <= 62, "compound key must fit a long")
    val nBits = nBands * bandBits
    require(nBits <= 120, "simhash is carried as two 60-bit words")
    // pigeonhole bands in one explode pass, not an nBands-way unionAll;
    // band b reads bandBits bits at global offset b·bandBits from word
    // sh0 (bits 0-59) or sh1 (bits 60+) — never straddling.
    //
    // keyBlocks > 1 is COMBINATION blocking (Manku/Jain/Das Sarma,
    // WWW'07 §3): a pair within hamming h differs in ≤ h bands, so it
    // AGREES verbatim on some (nBands − h)-subset — and therefore on
    // every keyBlocks-subset of it — of the bands; probing all
    // C(nBands, keyBlocks) subsets as concatenated compound keys is
    // lossless for h ≤ nBands − keyBlocks. Same answer, 2^((keyBlocks
    // −1)·bandBits)x more key space: the 60-bit registry layout at
    // keyBlocks = 2 swaps 10 probes of 64-key bands (birthday-saturated
    // past n≈10^3 — the measured 12.6x/decade) for 45 probes of
    // 4096-key compound bands, deferring saturation 64x WITHOUT the
    // width variants' answer change. The trade is C(nBands, keyBlocks)
    // band rows per doc and up to that many duplicate candidates per
    // true pair — bounded by the answer size, and the packed-long
    // verify-before-distinct discipline keeps duplicates map-side.
    def bandVal(b: Int): String = {
      val off = b * bandBits
      val word = if (off < 60) "sh0" else "sh1"
      s"(($word div ${1L << (off % 60)}) % ${1L << bandBits})"
    }
    val combos = (0 until nBands).combinations(keyBlocks)
      .map(_.toSeq).toSeq
    // Two key-construction paths, same values: few combos (the q=1/q=2
    // tiers) inline each compound key as plain div/mod arithmetic in
    // ONE explode array — fully codegen'd, zero overhead vs the r13
    // single-band shape (the fold variant measured 1.9x slower on the
    // 60-bit registry entry: the higher-order `aggregate` lambda drops
    // the projection out of whole-stage codegen). The 495-combo
    // election tier would inline ~2k expression nodes, so IT uses band
    // values computed once into an array + one constant-size fold over
    // a literal blocks array — O(nBands) generated code regardless of
    // the combo count (DedupBoundsSpec pins both paths pair-equal).
    val bands = if (combos.size <= 64) {
      val bandStructs = array(combos.zipWithIndex.map { case (blocks, ci) =>
        val key = blocks.zipWithIndex.map { case (b, j) =>
          s"(${bandVal(b)} * ${1L << ((blocks.size - 1 - j) * bandBits)})"
        }.mkString(" + ")
        struct(lit(ci).as("band"), expr(key).as("bk"))
      }: _*)
      sims
        .select(col("doc_id"), col("sh0"), col("sh1"),
          explode(bandStructs).as("bb"))
        .select(struct(col("doc_id"), col("sh0"), col("sh1")).as("p"),
          col("bb.band").as("band"), col("bb.bk").as("bk"))
    } else sims
      .withColumn("arr", array((0 until nBands).map(b =>
        expr(bandVal(b))): _*))
      .select(col("doc_id"), col("sh0"), col("sh1"), col("arr"),
        posexplode(typedlit(combos)).as(Seq("band", "blocks")))
      .select(struct(col("doc_id"), col("sh0"), col("sh1")).as("p"),
        col("band"),
        expr(s"aggregate(blocks, 0L, (acc, b) -> " +
          s"acc * ${1L << bandBits} + element_at(arr, b + 1))").as("bk"))
    val dist = expr("bit_count(x.sh0 ^ y.sh0) + bit_count(x.sh1 ^ y.sh1)")
    boundedPairs(bands, Seq("band", "bk"), "doc_id", maxBucket)
      .where(dist <= maxHamming)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        dist.as("hamming"))
      .distinct()
      .orderBy(col("d1").asc_nulls_last, col("d2").asc_nulls_last,
        col("hamming").asc_nulls_last)
  }

  /** The 60-bit blocking tiers the election chooses among — every tier
    * blocks the SAME 60-bit hash at hamming ≤ 8 (lossless by pigeonhole
    * at nBands − keyBlocks ≥ 8), so the election is ANSWER-INVARIANT:
    * (10, 6, q=1) 10 probes of 64-key bands, (10, 6, q=2) 45 probes of
    * 4096-key Manku compound bands, (12, 5, q=4) 495 probes of 2²⁰-key
    * compound bands. */
  val SimhashTiers: Seq[(Int, Int, Int)] = Seq((10, 6, 1), (10, 6, 2), (12, 5, 4))

  /** Calibrated cost constants of the blocking election (r14o,
    * BASELINE.md): fitting wall = hash + rows·c_sh + candidates·c_v to
    * the three measured sf10 tier walls (302.8 / 83.2 / 337.9 s at
    * 5·10⁵ docs) gives c_sh ≈ 1.2 µs per shuffled band row and
    * c_v ≈ 13 ns per generated-and-verified candidate — one band row
    * costs as much as ~92 candidates. The RATIO is what the election
    * uses, and it is thread-count-independent to first order (both
    * terms scale with the same executor pool). */
  val BandRowCostInCandidates = 92.0

  /** Tier 3's candidate mass per unit of tier 2's MEASURED mass — the
    * one term the pre-pass does not measure (measuring it exactly costs
    * tier 3's own 495·n-row histogram, i.e. the cost the election
    * exists to avoid). 0.13 is the ratio MEASURED at the 5·10⁶-doc
    * decade (r14o: 2.01e10 / 1.53e11), the decade nearest the tier-2/3
    * boundary; at 5·10⁵ the measured ratio is 0.56, so using the
    * boundary-decade value under-penalizes tier 3 slightly at small n —
    * harmless, since tier 3's 495·n linear term already dwarfs both
    * masses there. Consistency check: with this ratio the crossover
    * m2 = 450·n·R/0.87 ≈ 4.8e4·n lands at n ≈ 8.6·10⁶ when tier 2's
    * measured mass curve (58x/decade) is extrapolated from its 5·10⁶
    * reading — reproducing r14o's independently derived 8.5·10⁶
    * boundary from one measured mass instead of two walls. */
  val Tier3MassRatio = 0.13

  /** Candidate masses of the first two blocking tiers, MEASURED from
    * the hashes in ONE pre-pass (the electPrefix discipline,
    * VERDICT r14 item 2): explode each doc's 10 single-band keys and
    * 45 compound keys tagged by tier, histogram them map-combined, and
    * reduce to per-tier Σ C(bucket, 2) — the exact number of candidate
    * pairs each tier would generate. Returns (n, mass₁, mass₂). Cost:
    * 55·n small rows through one aggregation — about tier 2's own
    * linear term, paid once to learn whether a tier's QUADRATIC term
    * (invisible to any count rule: it depends on how the corpus crowds
    * the key space, not on n) will dominate. */
  private[graft] def measureSimhashMasses(sims: DataFrame): (Long, Double, Double, Double) = {
    def bandVal(b: Int): String = s"((sh0 div ${1L << (b * 6)}) % 64)"
    // tier 0 = the raw 60-bit hash itself: its bucket pair-count is the
    // EXACT-DUPLICATE mass, the floor every tier's per-probe mass shares
    // (identical hashes collide in all probes of all tiers) — one more
    // row per doc buys the lower bound the tier-3 model lacked
    // (ADVICE r15: a dup-skewed corpus can crowd even the 2^20-key
    // compound space past the 0.13 ratio measured on GenScale corpora).
    val t0 = Seq(struct(lit(0).as("tier"), lit(0).as("band"),
      col("sh0").cast("long").as("bk")))
    val t1 = (0 until 10).map(b => struct(lit(1).as("tier"),
      lit(b).as("band"), expr(bandVal(b)).cast("long").as("bk")))
    val t2 = (0 until 10).combinations(2).map(_.toSeq).toSeq.zipWithIndex
      .map { case (bs, ci) => struct(lit(2).as("tier"), lit(ci).as("band"),
        expr(s"(${bandVal(bs.head)} * 64) + ${bandVal(bs(1))}")
          .cast("long").as("bk")) }
    val rows = sims.select(explode(array((t0 ++ t1 ++ t2): _*)).as("k"))
      .groupBy(col("k.tier").as("tier"), col("k.band").as("band"),
        col("k.bk").as("bk"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("tier"))
      .agg(sum(expr("c * (c - 1) div 2")).cast("double").as("m"),
        sum(col("c")).as("rows"))
      .collect()
    val byTier = rows.map(r => r.getInt(0) ->
      (r.getDouble(1), r.getLong(2))).toMap
    val (m1, r1) = byTier.getOrElse(1, (0.0, 0L))
    val (m2, _) = byTier.getOrElse(2, (0.0, 0L))
    val (mDup, _) = byTier.getOrElse(0, (0.0, 0L))
    (r1 / 10, m1, m2, mDup)
  }

  /** Blocking election for the 60-bit / hamming ≤ 8 simhash layout,
    * from MEASURED per-tier candidate masses (VERDICT r14 item 2 —
    * replacing the r14l count thresholds, which mis-elect in both
    * directions: a diverse corpus keeps single bands cheap far past the
    * 2000-doc threshold — the fixture board measured the forced tier 2
    * 1.9x SLOWER than tier 1 at sf0.1's 6k docs — while a corpus
    * crowding one band saturates tier 1 far below it). Each tier's
    * cost in candidate units is probes·n·R + mass (R =
    * [[BandRowCostInCandidates]]); tier 3's unmeasured mass is modeled
    * from tier 2's measured one ([[Tier3MassRatio]]). Cheapest tier
    * wins; ties go to the lower tier. Answer-invariant: every tier
    * returns the same pair set (DedupBoundsSpec pins all three equal
    * to brute force), so no oracle accommodation is needed. */
  def electSimhashBlockingByMass(n: Long, m1: Double, m2: Double,
      mDup: Double = 0.0): (Int, Int, Int) = {
    val r = BandRowCostInCandidates
    // tier 3's modeled mass is bounded BELOW by the measured exact-
    // duplicate floor: every identical-hash pair collides in all 495
    // probes, so 495·mDup of tier-3 mass is certain regardless of how
    // the corpus crowds the compound key space (ADVICE r15 — the one
    // unmeasured election term now carries a measured lower bound).
    val m3 = math.max(Tier3MassRatio * m2, 495.0 * mDup)
    Seq[((Int, Int, Int), Double)](
      (SimhashTiers(0), 10.0 * n * r + m1),
      (SimhashTiers(1), 45.0 * n * r + m2),
      (SimhashTiers(2), 495.0 * n * r + m3))
      .minBy(_._2)._1
  }

  /** PUBLIC API — [[simhashPairs]] with the blocking ELECTED from the
    * corpus's measured candidate masses: hash once (localCheckpoint —
    * the hash is the dominant shared cost), measure each tier's
    * Σ C(bucket, 2) in one histogram pre-pass
    * ([[measureSimhashMasses]]), pick the cheapest tier under the r14o
    * cost model ([[electSimhashBlockingByMass]]), and run the banded
    * pair generation on the already-computed hashes. Same answer at
    * every tier (hamming ≤ 8 on the same 60-bit hash — the registry
    * oracle replays brute force and is blocking-invisible); the
    * pre-pass is contract-visible as prejobs. */
  def simhashPairsAuto(docs: DataFrame, maxHamming: Int = 8,
      maxBucket: Int = 8192): DataFrame = {
    require(maxHamming <= 8,
      "the elected tiers are pigeonhole-lossless only to hamming 8")
    val sims = simhash(docs, 60).localCheckpoint()
    val (n, m1, m2, mDup) = measureSimhashMasses(sims)
    val (nBands, bandBits, keyBlocks) = electSimhashBlockingByMass(n, m1, m2, mDup)
    simhashPairsFrom(sims, maxHamming, maxBucket, nBands, bandBits, keyBlocks)
  }

  /** The DEFAULT simhash registry entry runs the mass-elected blocking
    * (VERDICT r14 item 1: the answer-invariant election replaces the
    * single-band plan, whose band birthday-saturation was the board's
    * worst surviving slope at 15.2x/decade; the forced single-band path
    * stays spec-only via [[simhashPairs]]'s explicit parameters). */
  private def q28simhash(s: SparkSession, dir: String): DataFrame =
    simhashPairsAuto(Tables.fannedDocuments(s, dir))

  /** Fixed Manku combination-blocking twin (10 bands, q = 2 → 45
    * probes of 4096-key compound keys): SAME 60-bit hash, SAME
    * hamming ≤ 8 answer, SAME oracle as q28_dedup_simhash. Kept as a
    * registry row so the board carries the forced tier-2 plan next to
    * the elected one — the decade studies compare the election's pick
    * against this fixed alternative. */
  private def q28simhashCombo(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.fannedDocuments(s, dir), keyBlocks = 2)

  /** The wide-sketch variant on the board: 96-bit simhash, 8×12-bit
    * bands (4096 keys/band — saturation deferred 64x vs the 60-bit
    * registry entry), hamming ≤ 7 pigeonhole-lossless. 96 bits keeps
    * the 97-column bit-sum aggregate inside whole-stage codegen's
    * 100-field default; past it the aggregate drops out of codegen. */
  private def q28simhashWide(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.fannedDocuments(s, dir), maxHamming = 7,
      nBands = 8, bandBits = 12)

  /** nBits-bit simhash per doc from token counts, as two 60-bit words
    * (sh0 = bits 0-59, sh1 = bits 60+, zero when nBits ≤ 60); token
    * hash = hex chars of md5 (15 per word, 60 bits each, positive).
    * Tie (bit-sum 0) → bit 0.
    *
    * One hash-aggregate with nBits per-bit sum columns instead of an
    * nBits× row-explode: bit-sum_i = Σ cnt·(2·bit_i(h)−1) =
    * 2·Σ cnt·bit_i(h) − Σ cnt, all exact integer math — identical to
    * the oracle's explode formulation but without multiplying the
    * token rows. */
  private[graft] def simhash(docs: DataFrame, nBits: Int = 60): DataFrame = {
    require(nBits >= 1 && nBits <= 120,
      s"simhash needs 1 <= nBits <= 120 (two 60-bit words), got nBits = $nBits")
    val hexChars1 = math.min(15, math.max(0, (nBits - 60 + 3) / 4))
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id") +: col("cnt") +:
        (expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)")
          .as("h0") +:
          (if (hexChars1 > 0)
            Seq(expr(s"cast(conv(substring(md5(tok), 16, $hexChars1), 16, 10) as bigint)")
              .as("h1"))
          else Nil)): _*)
    def word(i: Int) = if (i < 60) "h0" else "h1"
    val sums: Seq[Column] = (0 until nBits).map(i =>
      sum(expr(s"cnt * ((${word(i)} div ${1L << (i % 60)}) % 2)")).as(s"s$i")) :+
      sum(col("cnt")).as("total")
    def assemble(lo: Int, hi: Int): String =
      if (lo >= hi) "0L"
      else (lo until hi).map(i =>
        s"if(2 * s$i - total > 0, ${1L << (i % 60)}L, 0L)").mkString(" + ")
    tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        expr(assemble(0, math.min(nBits, 60))).as("sh0"),
        expr(assemble(60, nBits)).as("sh1"))
  }

  /** Brute-force DuckDB replay of [[simhashPairs]] (d1 < d2, hamming
    * ≤ 8) as a reusable CTE block — shared by q28's oracle and by
    * Decontam's q82 split-leakage oracle. */
  private[operators] val simhashPairsCte =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok),
      |th AS (SELECT doc_id, cnt, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tc),
      |bits AS (
      |  SELECT doc_id, i.i AS i,
      |    SUM(cnt * (2 * ((h // CAST(pow(2, i.i) AS BIGINT)) % 2) - 1)) AS s
      |  FROM th, range(0, 60) i(i) GROUP BY doc_id, i.i),
      |sh AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN s > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS simhash
      |  FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    bit_count(xor(a.simhash, b.simhash)) AS hamming
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8)""".stripMargin

  private val q28simhashSql =
    s"""WITH $simhashPairsCte
       |SELECT d1, d2, hamming FROM pairs
       |ORDER BY d1 ASC NULLS LAST, d2 ASC NULLS LAST, hamming ASC NULLS LAST""".stripMargin

  /** Brute-force DuckDB replay of the WIDE (96-bit, 8×12-band,
    * hamming ≤ 7) [[simhashPairs]] layout: same md5 token hashing, the
    * second word from hex chars 16-24 (36 bits). Oracle of
    * q28_simhash_wide (q82 moved back to the elected 60-bit layout in
    * r15 — VERDICT r14 item 1). */
  private[operators] val simhashWidePairsCte =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok),
      |th AS (SELECT doc_id, cnt,
      |  ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h0,
      |  ('0x' || substr(md5(tok), 16, 9))::BIGINT AS h1 FROM tc),
      |bits AS (
      |  SELECT doc_id, i.i AS i,
      |    SUM(cnt * (2 * ((CASE WHEN i.i < 60
      |        THEN h0 // CAST(pow(2, i.i) AS BIGINT)
      |        ELSE h1 // CAST(pow(2, i.i - 60) AS BIGINT) END) % 2) - 1)) AS s
      |  FROM th, range(0, 96) i(i) GROUP BY doc_id, i.i),
      |sh AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN s > 0 AND i < 60 THEN CAST(pow(2, i) AS BIGINT)
      |        ELSE 0 END) AS sh0,
      |    SUM(CASE WHEN s > 0 AND i >= 60 THEN CAST(pow(2, i - 60) AS BIGINT)
      |        ELSE 0 END) AS sh1
      |  FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1)) AS hamming
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1)) <= 7)""".stripMargin

  private val q28simhashWideSql =
    s"""WITH $simhashWidePairsCte
       |SELECT d1, d2, hamming FROM pairs
       |ORDER BY d1 ASC NULLS LAST, d2 ASC NULLS LAST, hamming ASC NULLS LAST""".stripMargin

  /** Hyperplane-band parameters of the REGISTERED q28_dedup_embed query
    * (shared with its oracle generator): the fixture's near-dup pairs
    * all sit at cos 0.45–0.6 (no high-cos pairs are planted), so the
    * fixture query needs wide 16-bucket tables to surface any of them;
    * its oracle replays these exact constants. The PUBLIC API defaults
    * of [[embedCosinePairs]] are the scale-safe 12×12. */
  private[graft] val EmbedTables = 8
  private[graft] val EmbedBits = 4

  /** PUBLIC API — embedding-cosine near-dup pairs over (vec_id,
    * embedding: array&lt;float&gt;), fully distributed: candidates come
    * from deterministic random-hyperplane banding (md5-derived planes,
    * [[Similarity.planeComponent]]), verification is an exact codegen'd
    * `dot_product` with the inverse norm hoisted per VECTOR — each
    * candidate pair does ONE fold, never three. No driver collect, no
    * all-pairs scan: each (table, bucket) group generates its pairs
    * bucket-locally through [[boundedPairs]] (the same one-subplan shape
    * as [[simhashPairs]]), so the candidate stream lives inside a single
    * codegen stage, only surviving pairs are shuffled, and a crowded
    * bucket past `maxBucket` members is salted into bounded sub-cells
    * instead of one task's unbounded array.
    *
    * Candidate recall is the standard OR-construction S-curve
    * 1−(1−p^bits)^tables with p = 1 − θ/π. The 12×12 defaults give
    * 2¹² = 4096 buckets per table (expected bucket population n/4096 —
    * NOT the n/16 of a 4-bit table, which at production scale is
    * all-pairs-divided-by-16 in disguise) and recall ≈ 0.98 at cos 0.95,
    * ≈ 0.87 at cos 0.9 — the production near-dup regime; LlmOpsSpec
    * asserts recall on planted high-cos near-dups, where this bound
    * applies, plus banded ⊆ exact and a no-driver-materialization plan
    * check. (The registered fixture query instead passes the wide
    * [[EmbedTables]]×[[EmbedBits]] explicitly — its 0.45 threshold is
    * far below the S-curve's useful range — and its oracle REPLAYS that
    * banding in SQL, planes inlined as integer constants, so DuckDB
    * verifies the whole pipeline, candidates included.)
    *
    * cos = (dot * rinv_a) * rinv_b with the same left-assoc order and
    * ascending sequential folds on both engines — bit-identical; output
    * rounded to 9 dp (DuckDB's parallel aggregation can shift the last
    * ulp under load, observed intermittently in round 2). */
  def embedCosinePairs(s: SparkSession, embeddings: DataFrame,
      threshold: Double = 0.45, nTables: Int = 12,
      bitsPerTable: Int = 12, maxBucket: Int = 4096): DataFrame = {
    graft.Graft.register(s)
    // Sign bit of plane p: sign(dot) == sign(cosine) for nonzero norms,
    // and the plane is a constant-folded float-array literal, so each bit
    // is one codegen'd dot_product fold — no interpreted lambdas.
    def sigBit(p: Int): String = {
      val arr = (0 until VectorSql.Dim)
        .map(d => Similarity.planeComponent(p, d).toInt).mkString(",")
      s"if(dot_product(embedding, cast(array($arr) as array<float>)) >= 0d, 1L, 0L)"
    }
    val bucketStructs = array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        expr((0 until bitsPerTable).map(i =>
          s"(${sigBit(t * bitsPerTable + i)}) * ${1L << (bitsPerTable - 1 - i)}L")
          .mkString(" + ")).as("bucket"))
    }: _*)
    // rinv is computed ONCE per vector, before the band explode; the
    // banded rows carry (vec_id, embedding, rinv) into their buckets.
    val banded = embeddings
      .select(col("vec_id"), col("embedding"),
        (lit(1.0) / sqrt(expr("dot_product(embedding, embedding)"))).as("rinv"))
      .select(struct(col("vec_id"), col("embedding"), col("rinv")).as("p"),
        explode(bucketStructs).as("bb"))
      .select(col("p"), col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
    // Bucket-local bounded pair generation (see simhashPairs for why this
    // beats a band self-join). A pair colliding in several tables yields
    // the same (v1, v2, cos) bytes each time — distinct() collapses them.
    boundedPairs(banded, Seq("tbl", "bucket"), "vec_id", maxBucket)
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        (expr("dot_product(x.embedding, y.embedding)") *
          col("x.rinv") * col("y.rinv")).as("rawcos"))
      .where(col("rawcos") >= threshold)
      .select(col("v1"), col("v2"), round(col("rawcos"), 9).as("cos"))
      .distinct()
      .orderBy(col("v1").asc_nulls_last, col("v2").asc_nulls_last, col("cos").asc_nulls_last)
  }

  private def q28embed(s: SparkSession, dir: String): DataFrame =
    embedCosinePairs(s, Tables.t(s, dir, "embeddings"),
      nTables = EmbedTables, bitsPerTable = EmbedBits)

  /** Oracle replaying the full banded pipeline: per-table bucket ids from
    * the SAME inlined integer plane constants (explicit left-assoc sums —
    * bit-identical to dot_product's ascending fold), candidates = pairs
    * sharing ≥ 1 bucket, then the exact hoisted-rinv cosine. */
  private def q28embedSql: String = {
    def planeDot(p: Int): String =
      (0 until VectorSql.Dim).map(d =>
        s"CAST(embedding[${d + 1}] AS DOUBLE)*${Similarity.planeComponent(p, d).toInt}")
        .mkString(" + ")
    def bucket(t: Int): String =
      (0 until EmbedBits).map(i =>
        s"(CASE WHEN (${planeDot(t * EmbedBits + i)}) >= 0 THEN ${1L << (EmbedBits - 1 - i)} ELSE 0 END)")
        .mkString(" + ")
    val bucketCols = (0 until EmbedTables).map(t => s"(${bucket(t)}) AS bk$t").mkString(",\n    ")
    val collide = (0 until EmbedTables).map(t => s"a.bk$t = b.bk$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding,
       |    CAST(1.0 AS DOUBLE) / sqrt(${VectorSql.dot("embedding", "embedding")}) AS rinv,
       |    $bucketCols
       |  FROM embeddings)
       |SELECT v1, v2, round(rawcos, 9) AS cos FROM (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    ${VectorSql.dot("a.embedding", "b.embedding")} * a.rinv * b.rinv AS rawcos
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id AND ($collide)) p
       |WHERE rawcos >= 0.45
       |ORDER BY v1 ASC NULLS LAST, v2 ASC NULLS LAST, cos ASC NULLS LAST""".stripMargin
  }

  // ---- q81: exact duplicated-span detection via content-defined chunks --

  /** CDC parameters: boundary = positions p (1-based, p >= W) where the
    * polynomial rolling hash of the last W chars ≡ 0 (mod CdcMod); the
    * expected chunk length is CdcMod chars. All arithmetic is positive
    * BIGINT modular (CdcPrime), so Spark `aggregate` (explicit 0 init)
    * and DuckDB `list_reduce` (implicit first-element init) compute the
    * same chain and the oracle replays the cut points bit-exactly. */
  private val CdcW = 8
  private val CdcB = 31
  private val CdcPrime = 1000003L
  private val CdcMod = 32

  /** q81 exact duplicated-span detection (the scalable stand-in for
    * suffix-array ExactSubstr dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): each doc is cut at
    * CONTENT-DEFINED boundaries — a Rabin-style rolling hash over the
    * last [[CdcW]] chars picks the cut points — so identical spans
    * produce identical chunks at ANY byte offset (a fixed 32-char grid
    * would only catch grid-aligned duplication). A chunk whose exact
    * content occurs in >= 2 distinct docs marks each occurrence as
    * duplicated span; output is per-doc chunk/dup-chunk counts and the
    * duplicated-span ratio.
    *
    * Scale: cut-point discovery is map-only array math per doc (no
    * per-position row explosion); the shuffle key is the chunk content
    * itself, whose width CDC bounds at ~[[CdcMod]] chars, so the
    * inverted index is O(corpus bytes) narrow rows with map-side
    * combine — no all-pairs stage. The shared-chunk set is sized by
    * actual duplication, and the rejoin is a plain shuffled left join
    * AQE broadcasts when small. The W-char hash is recomputed per
    * position (W multiply-adds/char, codegen'd); a custom Expression
    * could roll it in O(1)/char if profiles ever show it hot. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    graft.Graft.register(docs.sparkSession)
    // native rolling-hash cut points (plans/CdcCuts.scala): O(1)
    // multiply-adds per char vs the declarative form's O(W); the two
    // are value-identical (ExpressionSpec differential)
    cdcChunksFrom(docs, "cdc_cuts(text)")
  }

  /** The declarative (pure built-in-expression) form of [[cdcChunks]] —
    * kept as the differential witness for the native rolling hash.
    * Hash units here are `ascii()` (== code points on ASCII text);
    * the native form uses code points outright, matching DuckDB `ord()`
    * on all input. */
  private[graft] def cdcChunksDeclarative(docs: DataFrame): DataFrame = {
    // guard: sequence(W, n) DESCENDS when n < W (no empty-range
    // semantics like DuckDB's generate_series), so short docs take the
    // whole-doc-chunk arm explicitly
    val cuts = s"""CASE WHEN length(text) < $CdcW THEN array()
      ELSE filter(sequence($CdcW, length(text)), p ->
        pmod(aggregate(sequence(p - ${CdcW - 1}, p), CAST(0 AS BIGINT),
          (a, i) -> pmod(a * $CdcB + ascii(substring(text, i, 1)), $CdcPrime)),
          $CdcMod) = 0) END"""
    cdcChunksFrom(docs, cuts)
  }

  private def cdcChunksFrom(docs: DataFrame, cutsExpr: String): DataFrame = {
    docs
      .where(length(col("text")) > 0)
      .withColumn("bounds", expr(
        s"array_sort(array_distinct(concat($cutsExpr, array(length(text)))))"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(bounds)), j -> substring(text,
           |  (CASE WHEN j = 1 THEN 0 ELSE element_at(bounds, j - 1) END) + 1,
           |  element_at(bounds, j) -
           |    (CASE WHEN j = 1 THEN 0 ELSE element_at(bounds, j - 1) END)))""".stripMargin))
        .as("chunk"))
  }

  private def q81(s: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunks(Tables.t(s, dir, "documents"))
    val shared = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("chunk"), lit(1).as("dup"))
    chunks.join(shared, Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0))).as("dup_chunks"))
      .withColumn("dup_ratio", col("dup_chunks").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private val q81Sql = {
    val w1 = CdcW - 1
    s"""WITH src AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
       |cutsrc AS (
       |  SELECT doc_id, text,
       |    list_sort(list_distinct(
       |      list_filter([p for p in generate_series($CdcW, length(text))],
       |        p -> list_reduce([ord(text[i]) for i in generate_series(p - $w1, p)],
       |               (a, b) -> (a * $CdcB + b) % $CdcPrime) % $CdcMod = 0)
       |      || [length(text)])) AS bounds
       |  FROM src),
       |chunks AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(bounds)),
       |      j -> text[(CASE WHEN j = 1 THEN 0 ELSE bounds[j-1] END) + 1 : bounds[j]])) AS chunk
       |  FROM cutsrc),
       |shared AS (SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COALESCE(SUM(CASE WHEN s.chunk IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup_chunks,
       |  CAST(CAST(COALESCE(SUM(CASE WHEN s.chunk IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS DOUBLE)
       |    / COUNT(*) AS dup_ratio
       |FROM chunks c LEFT JOIN shared s ON c.chunk = s.chunk
       |GROUP BY c.doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin
  }

  // ------------------------------------------------------------- q160
  /** PUBLIC API — ASYMMETRIC near-SUPERSET pairs by shingle
    * CONTAINMENT c(A→B) = |A∩B|/|A| (round-11): the curation case
    * symmetric Jaccard structurally misses — document B quotes all of
    * A inside a longer text, so c(A→B) = 1 while J = |A|/|B| can be
    * arbitrarily small. Training pipelines deduplicate these (the
    * small doc is pure redundancy; worse, it may be a benchmark
    * answer embedded in a crawl page). Emits every ordered pair whose
    * LARGER-direction containment clears the threshold, with both
    * containments and the Jaccard so a consumer separates true
    * near-dups from containment-only finds.
    *
    * Scale shape: the capped-shingle pair index it shares with
    * [[ngramJaccardPairs]] — stop-shingle `dfCap` anti-join
    * ([[dropStopShingles]]), posting-list pair generation (never a
    * doc×doc join), exact integer intersections.
    * The dfCap filter is mirrored in the q160/q163 oracles
    * (parameterized via [[containmentCtesSql]]), so engine and oracle
    * stay bit-equal even on a corpus where the cap trips; cap activity
    * is observable (`q160_df_cap`: dropped_shingles, max_df).
    *
    * The SYMMETRIC Jaccard prefix filter is not applicable here (its
    * no-miss argument bounds both sides and containment admits
    * |A| ≪ |B| pairs it would legally skip), but the ASYMMETRIC
    * probe-prefix variant IS lossless for this predicate: the q160
    * threshold is on max(c1, c2) = inter / min(|A|, |B|), so every
    * qualifying pair has its SMALLER side's containment ≥ t, and for
    * that side inter ≥ ⌈t·|A|⌉ forces at least one of A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (global rarest-first order: df asc,
    * hash asc) into the intersection. Probe-side prefixes joined
    * against FULL index postings therefore miss nothing
    * (DedupBoundsSpec proves equality differentially); candidates are
    * verified by exact intersection from the full per-doc sets.
    * Candidate volume both ways is observed (`q160_cands`).
    *
    * Strategy default, MEASURED at sf0.1 (t = 0.8, warm runs,
    * r12 ledger): inverted 3.0 s vs prefix 6.9 s, even though the
    * prefix cuts candidates 6.3× (1,130,536 → 180,718 of a
    * Σ C(df, 2) = 1,265,779 bound). ~1.1 M candidate pair-rows
    * through one count-aggregate is cheap in absolute terms, so the
    * prefix path's extra stages (a per-doc row_number window over
    * every kept shingle, the candidate distinct, two doc-set verify
    * joins) cost more than the candidates they avoid. Default is
    * therefore the inverted index. On a Zipfian real-text corpus the
    * calculus inverts — candidate volume approaches Σ df² (up to
    * C(dfCap, 2) ≈ 5·10⁷ pairs PER capped-hot shingle) while
    * prefixes stay short.
    *
    * Strategy ELECTION is automatic by default (r13, closing the r12a
    * escape hatch): `prefixFilter = None` runs [[electPrefix]] — one
    * cheap df-histogram pre-pass — and flips to the prefix path when
    * the pair bound crosses the measured break-even; `Some(b)` forces
    * a branch (the spec's differential laws and the A/B harness). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      dfCap: Int = DefaultDfCap,
      prefixFilter: Option[Boolean] = None): DataFrame =
    containmentPairsImpl(docs, threshold, dfCap, forcePrefix = prefixFilter)

  /** Measured break-even for the containment strategy election, in
    * candidate-pairs per posting row: elect the prefix path when
    * Σ C(df, 2) > ratio · Σ df over post-cap shingles. Derived from
    * the r12a A/B at sf0.1 (Σ df = 260 388, Σ C(df, 2) = 1 265 779 —
    * ratio 4.9 — inverted 3.0 s vs prefix 6.9 s): the prefix path's
    * fixed stages cost ≈ 3.9 s there while the inverted path's
    * marginal candidate cost is ≈ 1.3 µs/pair, so the curves cross
    * near ΔC ≈ 3 M extra candidates ⇒ bound/postings ≈ 12–13. Both
    * sides of the ratio scale linearly under replication (df constant
    * per shingle), so the rule is scale-free: it flips exactly when
    * candidate mass outgrows the corpus — the Zipfian regime. */
  val PrefixBreakEvenRatio = 12.0

  /** The election pre-pass: one df-histogram aggregation (fact scan +
    * map-combine to ≤ |vocab| rows) computing the posting mass Σ df
    * and the candidate bound Σ C(df, 2) over post-cap shingles. */
  private[graft] def electPrefix(docs: DataFrame, dfCap: Int): Boolean = {
    val st = shingledHashed(docs)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .agg(sum(col("df")).cast("double").as("p"),
        sum(expr("df * (df - 1) div 2")).cast("double").as("b"))
      .head()
    !st.isNullAt(0) && !st.isNullAt(1) &&
      st.getDouble(1) > PrefixBreakEvenRatio * st.getDouble(0)
  }

  /** Stop-shingle threshold shared by the containment family and its
    * oracles; never trips at fixture scale (max df 25 at sf0.1). */
  val DefaultDfCap = 10000

  /** Post-cap distinct-shingle count per doc — the subsumption measure
    * [[containmentPairs]] scores with, exposed for consumers (the q163
    * keeper election) so their size notion cannot drift from the
    * pair-generation one. Docs with < 3 tokens have no shingles and no
    * row here. */
  def containmentShingleSizes(docs: DataFrame,
      dfCap: Int = DefaultDfCap): DataFrame =
    dropStopShingles(shingledHashed(docs), dfCap, observe = None)._2
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  private[graft] def containmentPairsImpl(docs: DataFrame, threshold: Double,
      dfCap: Int, forcePrefix: Option[Boolean]): DataFrame = {
    val (dfc, kept) = dropStopShingles(shingledHashed(docs), dfCap, Some("q160"))
    val usePrefix = forcePrefix.getOrElse(electPrefix(docs, dfCap))
    val scored =
      if (!usePrefix)
        postingPairCounts(kept, "q160")
          .observe("q160_cands", count(lit(1)).as("n_candidates"))
      else {
        // asymmetric: probe prefixes joined against the FULL posting
        // index — the index side may be the |B| ≫ |A| superset whose own
        // containment is tiny, so it must stay complete
        val cand = probePrefix(kept, dfc, threshold)
          .join(postingLists(kept, "q160"), Seq("sh"))
          .select(col("doc_id").as("da"), explode(col("ds")).as("db"))
          .where(col("da") =!= col("db"))
          .select(least(col("da"), col("db")).as("d1"),
            greatest(col("da"), col("db")).as("d2"))
          .distinct()
          .observe("q160_cands", count(lit(1)).as("n_candidates"))
        verifiedIntersections(cand, kept).where(col("inter") > 0)
      }
    scored
      .withColumn("c1",
        col("inter").cast("double") / col("sz1").cast("double"))
      .withColumn("c2",
        col("inter").cast("double") / col("sz2").cast("double"))
      .where(greatest(col("c1"), col("c2")) >= threshold)
      .select(col("d1"), col("d2"), col("sz1"), col("sz2"),
        round(greatest(col("c1"), col("c2")), 6).as("cont"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6).as("jac"))
      .orderBy(col("d1").asc_nulls_last, col("d2").asc_nulls_last)
  }

  private def q160(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.fannedDocuments(s, dir))

  // ------------------------------------------- oracle CTE generators
  // The DuckDB oracles of the text near-dup family (q27/q28 ngram, q52,
  // q55, q95, q122, q160, q163) are independent restatements of the
  // engine over exact string shingles; only the code that writes their
  // shared pieces is shared, and each text is pinned byte for byte by
  // OracleSqlSpec.

  /** CTE `name`: (doc_id, sh) — each document's DISTINCT word trigrams
    * as exact strings (the engine hashes them; the q27 trust argument:
    * xxhash64 preserves set relations absent collisions). Documents
    * with < 3 tokens have no rows. */
  private[graft] def trigramCteSql(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |    FOR i IN range(1, len(s) - 1)])) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))""".stripMargin

  /** CTEs `sz` (distinct-shingle count per doc) and `i` (d1 < d2 pair
    * intersections by shingle equi-join) over a (doc_id, sh) CTE `d`. */
  private def intersectionCtesSql: String =
    """sz AS (SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id),
      |i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |  FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** CTEs `d`, `sz`, `i` and `p` (the (d1, d2) pairs with exact trigram
    * Jaccard ≥ `threshold`): the edge set the q55/q122 clustering
    * oracles close over with [[closureCtesSql]]. */
  private[graft] def jaccardEdgeCtesSql(threshold: Double): String =
    s"""${trigramCteSql("d")},
       |$intersectionCtesSql,
       |p AS (SELECT d1, d2 FROM (
       |  SELECT d1, d2, inter::DOUBLE / (s1.sz + s2.sz - inter) AS jac
       |  FROM i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id) x
       |  WHERE jac >= $threshold)""".stripMargin

  /** Recursive CTEs `edges`, `reach` and `comp` (id, cluster = least
    * reachable id) over a (d1, d2) pair CTE `p`: the transitive closure
    * the clustering oracles compute instead of replaying the engine's
    * propagation rounds. Needs `WITH RECURSIVE`. */
  private[graft] def closureCtesSql: String =
    """edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION ALL SELECT d2, d1 FROM p),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a)""".stripMargin

  /** Shared oracle CTE chain for the containment family, MIRRORING the
    * engine's `dfCap` stop-shingle drop so engine and oracle agree even
    * on a corpus where the cap trips (ADVICE r11). Emits `d` (capped
    * (doc_id, sh)), `sz` (post-cap distinct-shingle counts) and `i`
    * (pair intersections). */
  private[graft] def containmentCtesSql(dfCap: Int): String =
    s"""${trigramCteSql("dall")},
       |hot AS (SELECT sh FROM dall GROUP BY sh HAVING COUNT(*) > $dfCap),
       |d AS (SELECT doc_id, sh FROM dall
       |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.sh = dall.sh)),
       |$intersectionCtesSql""".stripMargin

  private val q160Sql =
    s"""WITH ${containmentCtesSql(DefaultDfCap)}
       |SELECT d1, d2, sz1, sz2, ROUND(cmax, 6) AS cont,
       |  ROUND(CAST(inter AS DOUBLE) / CAST(sz1 + sz2 - inter AS DOUBLE), 6) AS jac
       |FROM (
       |  SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2,
       |    GREATEST(CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE),
       |      CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE)) AS cmax
       |  FROM i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id) p
       |WHERE cmax >= 0.8
       |ORDER BY d1 ASC NULLS LAST, d2 ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q26_dedup_exact", q26, Some(q26Sql)),
    QueryDef("q160_containment", q160, Some(q160Sql)),
    QueryDef("q27_dedup_minhash", q27, Some(q27Sql)),
    QueryDef("q27_dedup_ngram", q28ngram, Some(q28ngramSql)),
    QueryDef("q28_dedup_simhash", q28simhash, Some(q28simhashSql)),
    QueryDef("q28_simhash_combo", q28simhashCombo, Some(q28simhashSql)),
    QueryDef("q28_simhash_wide", q28simhashWide, Some(q28simhashWideSql)),
    QueryDef("q28_dedup_embed", q28embed, Some(q28embedSql)),
    QueryDef("q81_cdc_dedup", q81, Some(q81Sql)))
}

/** Shared DuckDB SQL fragments for vector math (oracle side). */
object VectorSql {
  /** Embedding dimensionality of the fixture tables (FIXTURES.md).
    * DuckDB 1.0 cannot laterally parameterize range() with len(col),
    * so the oracle uses the constant dimension. */
  val Dim = 64

  /** Sequential double dot product via ordinal list access — the same
    * left-to-right fold Spark's `aggregate` performs, so results are
    * bit-identical. */
  def dot(a: String, b: String): String =
    s"(SELECT SUM(CAST($a[i.i] AS DOUBLE) * CAST($b[i.i] AS DOUBLE)) FROM range(1, ${Dim + 1}) i(i))"
  def cosine(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
}
