package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key bounds of the dedup pair generators, exercised with skewed
  * fixtures shaped like the reference's skew generator
  * (celeborn: toolkit/scripts/genSkewData.scala:21-36 — ~90 % of rows on
  * one hot key):
  *
  *  - ngramJaccardPairs: a stop phrase shared by ~90 % of docs is
  *    df-capped away BEFORE posting lists collect; planted near-dup
  *    pairs (distinctive shingles, df = 2) survive.
  *  - Dedup.boundedPairs: salting a crowded bucket into bounded
  *    sub-cells is LOSSLESS (set-equal to the unsalted path) and the
  *    observed max cell size respects the bound.
  *  - simhashPairs / embedCosinePairs: the salted path returns exactly
  *    the unsalted pair set on degenerate (all-identical-key) data.
  */
class DedupBoundsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---- ngram df-cap ------------------------------------------------------

  test("ngram df-cap drops the hot phrase, keeps planted near-dups, bounds postings") {
    import spark.implicits._
    // 90 % of docs: hot 5-word prefix (3 hot trigrams, df ≈ 0.9n) + unique
    // gibberish tail. 10 %: planted duplicate pairs with distinctive text.
    val hot = (0L until 450L).map(i =>
      (i, s"the quick brown fox jumps u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val planted = (0L until 25L).flatMap(i => Seq(
      (1000L + 2 * i, s"planted pair p${i}x p${i}y p${i}z p${i}w p${i}v p${i}u"),
      (1001L + 2 * i, s"planted pair p${i}x p${i}y p${i}z p${i}w p${i}v p${i}u")))
    val docs = (hot ++ planted).toDF("doc_id", "text")

    val (rows, m) = observedIn("dedup_ngram_df_cap", "q27_df_cap") {
      graft.operators.Dedup.ngramJaccardPairs(docs, threshold = 0.5, dfCap = 50).collect()
    }
    assert(m("dropped_shingles") == 3L, s"hot trigrams must be capped: $m")
    assert(m("max_df").asInstanceOf[Long] == 450L, s"unexpected df profile: $m")
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 25L).map(i => (1000L + 2 * i, 1001L + 2 * i)).toSet
    // identical planted texts → jac 1.0; hot docs share ONLY capped
    // shingles → zero candidates among the 450 hot docs
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    rows.foreach(r => assert(r.getDouble(2) == 1.0))
  }

  test("ngram posting arrays stay within the df-cap") {
    import spark.implicits._
    // one planted duplicate keeps the result non-empty — an all-empty
    // result lets AQE's empty-relation propagation collapse the final
    // plan to a LocalTableScan, dropping CollectMetrics nodes (and their
    // observed metrics) from the executed plan
    val docs = ((0L until 200L).map(i =>
      (i, s"shared stop phrase here u${i}a u${i}b u${i}c")) ++
      Seq((900L, "planted dup q1 q2 q3 q4"), (901L, "planted dup q1 q2 q3 q4")))
      .toDF("doc_id", "text")
    val ((n, _), m) = observedIn("dedup_ngram_postings", "q27_postings") {
      val rows = graft.operators.Dedup
        .ngramJaccardPairs(docs, threshold = 0.9, dfCap = 40).collect()
      (rows.length, rows)
    }
    assert(n == 1, "planted dup pair must survive")
    assert(m("max_posting").asInstanceOf[Int] <= 40, s"posting array over cap: $m")
  }

  test("prefix filter bounds the candidate set in the near-dup regime") {
    import spark.implicits._
    // every doc shares one 6-word tail (4 common trigrams, df = n, under
    // the cap) but differs in its 4-word head: at t = 0.9 the rarest-
    // first prefix is 1-2 shingles long and UNIQUE per doc, so the
    // shared tail never generates a candidate — only the planted twins
    // collide. The inverted index (pre-prefix plan) would have generated
    // ~n²/2 pairs from the shared-tail postings.
    val n = 120L
    val docs = ((0L until n).map(i =>
      (i, s"h${i}a h${i}b h${i}c h${i}d tail one two three four five")) ++
      Seq((900L, "planted twin r1 r2 r3 r4 tail one two three four five"),
        (901L, "planted twin r1 r2 r3 r4 tail one two three four five")))
      .toDF("doc_id", "text")
    val ((rows, _), m) = observedIn("dedup_ngram_prefix", "q27_prefix_cands") {
      val r = graft.operators.Dedup
        .ngramJaccardPairs(docs, threshold = 0.9, dfCap = 10000).collect()
      (r.length, r)
    }
    assert(rows == 1, "planted twins must survive")
    val cands = m("n_candidates").asInstanceOf[Long]
    assert(cands < 20,
      s"prefix filter generated $cands candidates; the unfiltered pair " +
        s"space of the shared tail is ~${n * (n + 1) / 2}")
  }

  test("prefix-filter branch equals inverted-index branch on a mixed-similarity corpus") {
    import spark.implicits._
    // Differential proof of the "no misses" claim (ADVICE r5): both
    // strategies FORCED at the same thresholds over a corpus that mixes
    // exact twins (jac 1.0), high-overlap near-dups (one word swapped),
    // boundary pairs (~threshold), and unrelated docs — the prefix
    // filter must return the exact same pair set as the inverted index,
    // including at the t = 0.7 strategy boundary.
    val docs = (
      // exact twins
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"),
        // near-dup: one word differs -> jac just under 1
        (3L, "alpha beta gamma delta epsilon zeta eta iota"),
        // partial overlap around the boundary
        (4L, "alpha beta gamma delta nine ten eleven twelve"),
        (5L, "one two three alpha beta gamma delta four")) ++
      // unrelated fillers
      (100L until 160L).map(i => (i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f"))
    ).toDF("doc_id", "text")
    for (t <- Seq(0.7, 0.75, 0.85)) {
      val inv = graft.operators.Dedup
        .ngramJaccardPairsImpl(docs, t, 10000, forcePrefix = Some(false))
        .collect().map(_.toString).sorted.toSeq
      val pref = graft.operators.Dedup
        .ngramJaccardPairsImpl(docs, t, 10000, forcePrefix = Some(true))
        .collect().map(_.toString).sorted.toSeq
      assert(pref == inv, s"strategy mismatch at t=$t:\n inv=$inv\n pref=$pref")
      assert(inv.nonEmpty, s"differential is vacuous at t=$t (no pairs)")
    }
  }

  // ---- boundedPairs losslessness + cell bound ----------------------------

  test("boundedPairs salted path is lossless and bounds cell arrays") {
    import spark.implicits._
    // one hot key with 400 members, plus small keys that stay unsalted
    val rows = ((0L until 400L).map(i => (0, i)) ++
      (0L until 5L).map(i => (1, 100000L + i)))
      .toDF("k", "id").select(col("k"), struct(col("id")).as("p"))
    def run(maxGroup: Int) = {
      val (pairs, m) = observedIn(s"dedup_bounded_pairs_$maxGroup", "graft_pair_cells") {
        graft.operators.Dedup.boundedPairs(rows, Seq("k"), "id", maxGroup)
          .select(col("x.id").as("d1"), col("y.id").as("d2"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      (pairs, m("max_cell").asInstanceOf[Int])
    }
    val (unsalted, bigCell) = run(1000000)
    assert(unsalted.size == 400 * 399 / 2 + 5 * 4 / 2)
    assert(unsalted.forall { case (a, b) => a < b }, "pairs must be id-ordered")
    assert(bigCell == 400, "unsalted hot key is one 400-element array")
    val (salted, cell) = run(50)
    assert(salted == unsalted, "salting must not lose or invent pairs")
    // a (si, sj) cell holds at most two sub-groups of ~ceil(n/g) members;
    // sub-group sizes are xxhash64-balanced, not exact — allow ~3x slack
    // (400 ids over g=8 salts measured max 57 per salt → 114 per cell)
    assert(cell <= 3 * 50, s"cell array $cell exceeds the salted bound")
    assert(cell < 400 / 2, s"cell array $cell not meaningfully split")
  }

  // ---- simhash / embed salted end-to-end ----------------------------------

  test("simhash band blocking is pigeonhole-LOSSLESS at both widths: " +
      "banded pairs equal brute-force hamming pairs") {
    import spark.implicits._
    // varied corpus: exact twins, one-token edits (few bits flipped),
    // and unrelated docs — brute force over the simhash values is the
    // ground truth the banding must reproduce exactly
    val docs = (0 until 60).map { i =>
      val base = s"shared prefix tokens ${i % 7} plus body ${i % 5} tail"
      val text = if (i % 3 == 0) base else s"$base extra${i % 11}"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    for ((nBands, bandBits, maxH) <- Seq((10, 6, 8), (8, 12, 7))) {
      val nBits = nBands * bandBits
      val sims = graft.operators.Dedup.simhash(docs, nBits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val brute = (for {
        (d1, a0, a1) <- sims; (d2, b0, b1) <- sims
        if d1 < d2 &&
          java.lang.Long.bitCount(a0 ^ b0) +
            java.lang.Long.bitCount(a1 ^ b1) <= maxH
      } yield (d1, d2)).toSet
      val banded = pairSet(graft.operators.Dedup.simhashPairs(
        docs, maxHamming = maxH, nBands = nBands, bandBits = bandBits))
      assert(banded == brute,
        s"$nBands×$bandBits: missed=${brute.diff(banded)} " +
          s"extra=${banded.diff(brute)}")
      assert(brute.nonEmpty, s"$nBands×$bandBits law is vacuous")
    }
  }

  test("combination blocking (keyBlocks=2) is lossless: combo pairs equal " +
      "brute force and the single-band blocking exactly") {
    import spark.implicits._
    // the Manku C(b,2) compound-key probing must return the IDENTICAL
    // pair set — same hash, same radius, only the blocking changes
    val docs = (0 until 60).map { i =>
      val base = s"shared prefix tokens ${i % 7} plus body ${i % 5} tail"
      val text = if (i % 3 == 0) base else s"$base extra${i % 11}"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val single = pairSet(graft.operators.Dedup.simhashPairs(docs))
    val combo = pairSet(graft.operators.Dedup.simhashPairs(docs, keyBlocks = 2))
    assert(combo == single,
      s"missed=${single.diff(combo)} extra=${combo.diff(single)}")
    assert(single.nonEmpty, "combo law is vacuous")
    // the 495-probe election tier (12 bands × 5 bits, keyBlocks = 4)
    // blocks the SAME 60-bit hash at the same radius — identical pairs
    val tier3 = pairSet(graft.operators.Dedup.simhashPairs(docs,
      nBands = 12, bandBits = 5, keyBlocks = 4))
    assert(tier3 == single,
      s"tier3 missed=${single.diff(tier3)} extra=${tier3.diff(single)}")
    // the ELECTED path (the default registry entry since r15) returns
    // the same answer as every forced tier — the election is invisible
    // to the pair set, whatever tier the masses pick
    val auto = pairSet(graft.operators.Dedup.simhashPairsAuto(docs))
    assert(auto == single,
      s"auto missed=${single.diff(auto)} extra=${auto.diff(single)}")
    // and through the salting path on hot buckets
    val hot = ((0L until 80L).map(i => (i, "identical text for all")) :+
      ((500L, "something else entirely unrelated here")))
      .toDF("doc_id", "text")
    val comboSalted = pairSet(graft.operators.Dedup.simhashPairs(
      hot, maxBucket = 20, keyBlocks = 2))
    assert(comboSalted.size == 80 * 79 / 2)
  }

  test("blocking election follows measured candidate mass, not corpus count") {
    import spark.implicits._
    val D = graft.operators.Dedup
    // pinned against the r14o MEASURED masses (BASELINE.md): tier 2 at
    // both measured decades; tier 3 once tier 2's measured mass
    // outgrows the 495-probe linear term (masses at 1e7 extrapolated
    // along the measured 58x/decade tier-2 curve)
    assert(D.electSimhashBlockingByMass(500000L, 2.13e10, 2.62e9) == ((10, 6, 2)))
    assert(D.electSimhashBlockingByMass(5000000L, 1.99e12, 1.53e11) == ((10, 6, 2)))
    assert(D.electSimhashBlockingByMass(10000000L, 8.0e12, 6.0e11) == ((12, 5, 4)))
    // ADVICE r15: the duplicate floor. Same masses, but now measured as
    // MOSTLY exact-duplicate pairs (mDup = m2/45 — every tier-2 probe's
    // mass is dup collisions): tier 3 provably pays 495·mDup ≈ 6.6e12
    // regardless of key-space crowding, so the election must NOT pick
    // it on the 0.13·m2 model that ignores the floor.
    assert(D.electSimhashBlockingByMass(10000000L, 8.0e12, 6.0e11,
      mDup = 6.0e11 / 45) == ((10, 6, 2)))

    // 60 uniformly mixed bits from two 30-bit halves (an Int's sign
    // extension must not leak constant high bands into the hash)
    def mix(tag: String, i: Long, bits: Int): Long = {
      val lo = scala.util.hashing.MurmurHash3.stringHash(s"a$tag$i").toLong & ((1L << 30) - 1)
      val hi = scala.util.hashing.MurmurHash3.stringHash(s"b$tag$i").toLong & ((1L << 30) - 1)
      ((hi << 30) | lo) & ((1L << bits) - 1)
    }
    // the mis-election the count rule shipped (r14l: n >= 2000 forced
    // tier 2): a DIVERSE corpus keeps single bands far from birthday
    // saturation at 2500 docs, so its measured mass elects tier 1 —
    // the plan the fixture board measured 1.9x faster (r14m: 1.69 s
    // single-band vs 3.17 s forced tier 2 at sf0.1)
    val diverse = (0L until 2500L).map(i => (i, mix("d", i, 60), 0L))
      .toDF("doc_id", "sh0", "sh1")
    val (nd, m1d, m2d, _) = D.measureSimhashMasses(diverse)
    assert(nd == 2500L, s"pre-pass row count $nd")
    assert(D.electSimhashBlockingByMass(nd, m1d, m2d) == ((10, 6, 1)),
      s"diverse corpus: m1=$m1d m2=$m2d")
    // ...and the flip the count rule CANNOT see: the same corpus size
    // with one crowded band (a planted template pattern pinning 6
    // bits) saturates tier 1's quadratic while the 4096-key compound
    // keys stay spread — the measured mass elects tier 2 at a count
    // where the corpora are indistinguishable by n
    val crowded = (0L until 12000L).map(i => (i, mix("c", i, 54) << 6, 0L))
      .toDF("doc_id", "sh0", "sh1")
    val diverse12k = (0L until 12000L).map(i => (i, mix("d", i, 60), 0L))
      .toDF("doc_id", "sh0", "sh1")
    val (nc, m1c, m2c, _) = D.measureSimhashMasses(crowded)
    val (n12, m112, m212, _) = D.measureSimhashMasses(diverse12k)
    assert(D.electSimhashBlockingByMass(nc, m1c, m2c) == ((10, 6, 2)),
      s"crowded corpus: m1=$m1c m2=$m2c")
    assert(D.electSimhashBlockingByMass(n12, m112, m212) == ((10, 6, 1)),
      s"diverse corpus at the same n: m1=$m112 m2=$m212")
  }

  test("simhashPairs salted path equals unsalted on degenerate hot-bucket data") {
    import spark.implicits._
    // 120 identical docs → one simhash → every band's bucket is hot
    val docs = ((0L until 120L).map(i => (i, "all these documents are exactly the same text")) ++
      Seq((500L, "a completely different document about other things entirely")))
      .toDF("doc_id", "text")
    val unsalted = pairSet(graft.operators.Dedup.simhashPairs(docs, maxBucket = 1000000))
    val salted = pairSet(graft.operators.Dedup.simhashPairs(docs, maxBucket = 20))
    assert(unsalted.size == 120 * 119 / 2)
    assert(salted == unsalted)
  }

  test("embedCosinePairs salted path equals unsalted on degenerate hot-bucket data") {
    import spark.implicits._
    // 80 identical unit-ish vectors (one bucket per table) + orthogonal noise
    val base = Array.tabulate(64)(d => if (d == 0) 1.0f else 0.01f * (d % 3))
    val other = Array.tabulate(64)(d => if (d == 63) 1.0f else 0.0f)
    val vecs = (0L until 80L).map(i => (i, base)) :+ (900L, other)
    val emb = vecs.toDF("vec_id", "embedding")
    def run(maxBucket: Int) =
      graft.operators.Dedup.embedCosinePairs(spark, emb, threshold = 0.9,
          nTables = 4, bitsPerTable = 4, maxBucket = maxBucket)
        .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = run(1000000)
    val salted = run(16)
    assert(unsalted.size == 80 * 79 / 2)
    assert(salted == unsalted)
  }

  // ---- containment candidate bounds (VERDICT r11 #4) ---------------------

  /** Σ C(df, 2) over post-cap shingles — the posting-pair bound every
    * inverted-index candidate set must respect. */
  private def postingPairBound(docs: DataFrame, dfCap: Int): Long =
    graft.operators.Dedup.shingledHashed(docs)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .agg(sum(col("df") * (col("df") - 1) / 2).cast("long")).collect()(0).getLong(0)

  test("containment prefix branch equals inverted branch, incl. |A| << |B| pairs") {
    import spark.implicits._
    // the pair class the SYMMETRIC Jaccard prefix would legally skip:
    // a 5-token quote (3 shingles) embedded verbatim in a 30-token host
    // (jac ~ 0.1, containment 1.0) — plus twins, a boundary pair, and
    // unrelated fillers
    val quote = "the exact quoted sentence here"
    val host = s"long host document begins $quote and then continues with " +
      "many additional unrelated tokens that dilute the jaccard entirely"
    val docs = (
      Seq((1L, quote), (2L, host),
        (3L, "twin text alpha beta gamma delta"),
        (4L, "twin text alpha beta gamma delta"),
        // boundary: 4 of 5 shingles shared -> c = 0.8
        (5L, "pqr stu vwx yza bcd efg hij"),
        (6L, "pqr stu vwx yza bcd efg kkk")) ++
      (100L until 160L).map(i => (i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f"))
    ).toDF("doc_id", "text")
    for (t <- Seq(0.7, 0.8, 0.9)) {
      val inv = graft.operators.Dedup
        .containmentPairsImpl(docs, t, 10000, forcePrefix = Some(false))
        .collect().map(_.toString).sorted.toSeq
      val pref = graft.operators.Dedup
        .containmentPairsImpl(docs, t, 10000, forcePrefix = Some(true))
        .collect().map(_.toString).sorted.toSeq
      assert(pref == inv, s"strategy mismatch at t=$t:\n inv=$inv\n pref=$pref")
      assert(inv.nonEmpty, s"differential is vacuous at t=$t (no pairs)")
      assert(inv.exists(_.contains("1,2")) || t > 0.99,
        s"embedded-quote pair must survive at t=$t")
    }
  }

  test("containment candidates respect the posting-pair bound and the prefix reduces them") {
    import spark.implicits._
    // every doc shares a 6-word tail (4 common shingles, df = n, under
    // the cap) but has a unique 4-word head: the inverted index must
    // generate ~n²/2 candidates from the tail postings; the rarest-first
    // probe prefix (1 unique head shingle per doc at t = 0.9) generates
    // only the planted twins
    val n = 120L
    val docs = ((0L until n).map(i =>
      (i, s"h${i}a h${i}b h${i}c h${i}d tail one two three four five")) ++
      Seq((900L, "planted twin r1 r2 r3 r4 tail one two three four five"),
        (901L, "planted twin r1 r2 r3 r4 tail one two three four five")))
      .toDF("doc_id", "text")
    val bound = postingPairBound(docs, 10000)
    val ((rowsInv, _), mInv) = observedIn("dedup_containment_inverted", "q160_cands") {
      val r = graft.operators.Dedup
        .containmentPairsImpl(docs, 0.9, 10000, forcePrefix = Some(false)).collect()
      (r.length, r)
    }
    val candsInv = mInv("n_candidates").asInstanceOf[Long]
    assert(candsInv <= bound,
      s"inverted-index candidates $candsInv exceed posting-pair bound $bound")
    assert(candsInv >= n * (n + 1) / 2,
      s"shared tail must fan out quadratically (got $candsInv)")
    val ((rowsPref, _), mPref) = observedIn("dedup_containment_prefix", "q160_cands") {
      val r = graft.operators.Dedup
        .containmentPairsImpl(docs, 0.9, 10000, forcePrefix = Some(true)).collect()
      (r.length, r)
    }
    val candsPref = mPref("n_candidates").asInstanceOf[Long]
    assert(rowsPref == rowsInv, "branches must agree on the result")
    assert(candsPref < 20,
      s"prefix filter generated $candsPref candidates vs inverted $candsInv")
  }

  test("containment strategy election: Zipfian shared-tail corpora elect the " +
      "prefix path, uniform corpora keep the inverted index, results agree") {
    import spark.implicits._
    // Zipfian regime: every doc shares a 6-word tail, so the candidate
    // bound Σ C(df,2) outgrows the posting mass Σ df — the measured
    // break-even (PrefixBreakEvenRatio ≈ 12 candidate pairs/posting,
    // ledger r12a/r13d) is crossed and the election must flip
    val n = 120L
    val zipf = ((0L until n).map(i =>
      (i, s"h${i}a h${i}b h${i}c h${i}d tail one two three four five")) ++
      Seq((900L, "planted twin r1 r2 r3 r4 tail one two three four five"),
        (901L, "planted twin r1 r2 r3 r4 tail one two three four five")))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup.electPrefix(zipf, 10000),
      "shared-tail corpus must elect the prefix path")
    // uniform regime: disjoint vocabularies, df = 1 everywhere, zero
    // candidate bound — the inverted index stays elected (the sf0.1
    // fixture sits at bound/postings = 4.9, also below the break-even)
    val uniform = (0L until 100L).map(i =>
      (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
      .toDF("doc_id", "text")
    assert(!graft.operators.Dedup.electPrefix(uniform, 10000),
      "disjoint-vocabulary corpus must keep the inverted index")
    // the elected default (auto) agrees with both forced branches
    val auto = graft.operators.Dedup.containmentPairs(zipf, threshold = 0.9)
      .collect().map(_.toString).sorted.toSeq
    val forced = graft.operators.Dedup
      .containmentPairsImpl(zipf, 0.9, 10000, forcePrefix = Some(false))
      .collect().map(_.toString).sorted.toSeq
    assert(auto == forced, "auto election changed the result set")
    assert(auto.exists(_.contains("900,901")), "planted twin must survive")
  }

  test("containment df-cap drops the hot shingle and the oracle mirror keeps parity") {
    import spark.implicits._
    // 90% of docs share a hot 5-word prefix (3 hot shingles, df ~ 0.9n,
    // over the cap) + unique tails; planted distinctive twins survive.
    // The cap drops the hot shingles from intersections AND sz
    // denominators — the q160/q163 oracles mirror this via
    // containmentCtesSql, so cap trips cannot diverge engine and oracle.
    val hot = (0L until 450L).map(i =>
      (i, s"the quick brown fox jumps u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val planted = (0L until 25L).flatMap(i => Seq(
      (1000L + 2 * i, s"planted pair p${i}x p${i}y p${i}z p${i}w p${i}v p${i}u"),
      (1001L + 2 * i, s"planted pair p${i}x p${i}y p${i}z p${i}w p${i}v p${i}u")))
    val docs = (hot ++ planted).toDF("doc_id", "text")
    val (rows, m) = observedIn("dedup_containment_df_cap", "q160_df_cap") {
      graft.operators.Dedup.containmentPairs(docs, threshold = 0.5, dfCap = 50)
        .collect()
    }
    assert(m("dropped_shingles") == 3L, s"hot shingles must be capped: $m")
    assert(m("max_df").asInstanceOf[Long] == 450L, s"unexpected df profile: $m")
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 25L).map(i => (1000L + 2 * i, 1001L + 2 * i)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("q81 CDC segmentation is lossless: chunks reassemble each doc") {
    val docs = Tables.t(spark, sf, "documents").limit(50).cache()
    // losslessness witness: chunks are consecutive substrings of text by
    // construction, so per-doc chunk chars == doc chars => exact cover
    val bad = docs
      .select(col("doc_id"), col("text"))
      .join(graft.operators.Dedup.cdcChunks(docs)
        .groupBy("doc_id").agg(sum(length(col("chunk"))).as("chunk_chars")),
        Seq("doc_id"))
      .where(col("chunk_chars") =!= length(col("text"))).count()
    assert(bad === 0)
  }

  test("q81 CDC catches the same span duplicated at DIFFERENT offsets") {
    import SparkTestSession.spark.implicits._
    // chosen so the rolling hash yields several INTERIOR cut points
    // (a span with no interior boundary has no shareable chunk — ~8% of
    // short phrases; this one cuts at +28,+64,+84,... verified offline)
    val span = "kilo echo mike bravo charlie romeo delta lima sierra bravo " +
      "quebec golf bravo charlie november november charlie hotel charlie " +
      "romeo november bravo sierra delta hotel sierra bravo sierra sierra " +
      "mike bravo hotel bravo romeo echo juliet november echo romeo delta"
    val docs = Seq(
      (1L, "AAA" + span + "BBBBBBBBBBBBBBBBBBBB"),
      (2L, "CCCCCCCCCCCCCCCCCCCCCCCCCCCCC" + span + "DD"),
      (3L, "totally unrelated filler content with no overlap at all here"))
      .toDF("doc_id", "text")
    val chunks = graft.operators.Dedup.cdcChunks(docs)
    val shared = chunks.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd")).where(col("nd") >= 2)
      .join(chunks, "chunk").select("doc_id").distinct()
      .as[Long].collect().toSet
    // content-defined cut points realign inside the span regardless of
    // prefix length, so docs 1+2 share interior chunks; doc 3 never does
    assert(shared === Set(1L, 2L),
      s"expected docs 1,2 to share CDC chunks, got $shared")
  }
}
