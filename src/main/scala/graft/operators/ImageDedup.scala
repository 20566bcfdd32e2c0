package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Image near-duplicate detection by perceptual difference-hash (dHash)
  * over REAL decoded PNGs — the multimodal twin of the text near-dup
  * family (q27/q28): re-encodes, crops, and brightness shifts defeat
  * `md5(payload)` exact dedup (q34_media_meta's checksum), while a
  * perceptual hash keys on image CONTENT.
  *
  * dHash here is integer-exact end to end, so the whole pipeline has a
  * DuckDB oracle like q34_png_decode: decode the PNG (javax.imageio on
  * the executor), grid the r+g+b luminance into 8 rows × 9 columns of
  * block SUMS (gx = x·9 / w — no interpolation, no floats), emit bit
  * (gy, gx) = [mean(block gx) > mean(block gx+1)] via the exact integer
  * cross-product s₁·c₂ > s₂·c₁, 64 bits total. A uniform brightness
  * shift adds the same constant to every block mean, so the comparisons
  * — and the hash — are EXACTLY invariant (proven in ImageDedupSpec);
  * random images differ in ~32 bits.
  *
  * Scale shape: hashing is a map-only typed `mapPartitions` decode (the
  * mapInPandas batch shape, reader SPI resolved once per JVM); pairing
  * is pigeonhole band blocking — 8 bands × 8 bits, so ANY pair within
  * Hamming ≤ 7 shares a verbatim band (lossless by construction, the
  * q62 PassJoin argument, not a probabilistic LSH bound) and only
  * band-equal candidates are ever verified. No all-pairs stage at any
  * scale. The 64-bit layout's 8-bit band keys (256/band) birthday-
  * saturate past ~10⁵ images (measured 8.8x wall per decade, r14e);
  * q97_phash_wide is the scale path — a 16×17 grid ⇒ 256-bit hash ⇒
  * 8 bands × 32-bit keys that never saturate, same pigeonhole
  * losslessness at hamming ≤ 7 (planted variants measure ≤ 5 bits
  * apart at the wide grid; random pairs ≥ 47).
  *
  * The fixture plants near-dup pairs: every 3rd image gets a variant
  * copy with ~1 % of pixels channel-shifted — block sums barely move,
  * so variants sit a few dHash bits from their base while unrelated
  * images stay ~32 bits apart.
  */
object ImageDedup {

  private val MaxHamming = 7 // pigeonhole-lossless with 8 bands × 8 bits

  final case class ImgRec(media_id: Long, payload: Array[Byte])
  final case class ImgBits(media_id: Long, bits: String)

  /** gridRows·(gridCols−1)-bit dHash of a PNG payload as a '0'/'1'
    * string (bit (gy, gx) at index gy·(gridCols−1) + gx). Integer-exact:
    * block sums + cross-multiplied mean comparison, no division, no
    * floats. An EMPTY block (possible when w < gridCols: some grid
    * columns receive no pixels) has s = c = 0, and the cross-product
    * rule 0 > 0 yields bit '0' deterministically — the SQL oracle
    * replays this with a dense-grid LEFT JOIN. Default 8×9 grid = the
    * 64-bit q97 layout; 16×17 = the 256-bit wide layout. */
  def dhashBits(payload: Array[Byte], gridRows: Int = 8,
      gridCols: Int = 9): String = {
    val img = Multimodal.decodePng(payload)
    val (w, h) = (img.getWidth, img.getHeight)
    val s = Array.ofDim[Long](gridRows, gridCols)
    val c = Array.ofDim[Long](gridRows, gridCols)
    var y = 0
    while (y < h) {
      val gy = y * gridRows / h
      var x = 0
      while (x < w) {
        val gx = x * gridCols / w
        val rgb = img.getRGB(x, y)
        s(gy)(gx) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        c(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    val sb = new java.lang.StringBuilder(gridRows * (gridCols - 1))
    var gy = 0
    while (gy < gridRows) {
      var gx = 0
      while (gx < gridCols - 1) {
        sb.append(
          if (s(gy)(gx) * c(gy)(gx + 1) > s(gy)(gx + 1) * c(gy)(gx)) '1'
          else '0')
        gx += 1
      }
      gy += 1
    }
    sb.toString
  }

  /** PUBLIC API — near-dup image pairs (a_id, b_id, hamming ≤ `maxHamming`)
    * over (media_id, payload) rows. maxHamming ≤ nBands−1 keeps the band
    * blocking provably lossless (pigeonhole). The default 8×9 grid is the
    * 64-bit q97 oracle layout (8 bands × 8-bit keys); gridRows=16,
    * gridCols=17 is the WIDE 256-bit layout (8 bands × 32-bit keys =
    * 2³² keys/band) — the 10⁸-image scale path the r13 decade study
    * called for: band keys never birthday-saturate, so the candidate
    * stream stays ~linear where the 64-bit layout measured Σ bucket²
    * growth (8.8x wall per decade at r14e). */
  def phashPairs(spark: SparkSession, imgs: Dataset[ImgRec],
      maxHamming: Int = MaxHamming, gridRows: Int = 8, gridCols: Int = 9,
      nBands: Int = 8): DataFrame = {
    import spark.implicits._
    // r17 (VERDICT r16 item 8, decode-once audit): the band self-join
    // plans the decode pipeline TWICE — once on the probe side and once
    // inside the broadcast build (r16 plan: two MapPartitions nodes over
    // the full image scan), so every image was decoded and hashed twice
    // per query (the sf100 board's 459 s is ImageIO-decode-bound). The
    // lazy localCheckpoint pins the (media_id, bits) rows — ~40 bytes +
    // nBits chars per IMAGE, orders of magnitude under the payload scan
    // it replaces, spill-safe at any corpus size — and both join sides
    // read it: decode runs exactly once. Lazy: materialized by the
    // query's own first job, no extra construction-time action.
    val bits = imgs.mapPartitions(_.map(r =>
      ImgBits(r.media_id, dhashBits(r.payload, gridRows, gridCols)))).toDF()
      .localCheckpoint(false)
    bandedHammingPairs(spark, bits, gridRows * (gridCols - 1),
      nBands, maxHamming)
  }

  /** The pairing stage alone: banded pigeonhole blocking + packed-long
    * hamming verification over (media_id, bits) rows — factored out so
    * it can be driven on synthetic DISTINCT hashes, where the registry
    * fixture's mod-768 pixel formula caps the corpus at 256 distinct
    * image classes and makes the answer itself quadratic. */
  def bandedHammingPairs(spark: SparkSession, bits: DataFrame,
      nBits: Int, nBands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming <= nBands - 1,
      s"$nBands-band blocking is lossless only up to hamming ${nBands - 1}")
    require(nBits % nBands == 0, "nBands must divide the bit count")
    require(nBits % 64 == 0, "bit count must pack into whole 64-bit words")
    val bandBits = nBits / nBands
    val words = nBits / 64
    val bands = bits.select(col("media_id"), col("bits"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            substring(col("bits"), b * bandBits + 1, bandBits).as("bk"))): _*))
          .as("bb"))
      .select(col("media_id"), col("bits"),
        col("bb.band").as("band"), col("bb.bk").as("bk"))
    // Saturated-band regime (found by the r13 sf10 decade run): past
    // ~10^5 images the 256 keys per band of the 64-bit layout saturate
    // and the band join fans out to Σ bucket² candidate pairs (~44 M at
    // 53 k images). Two rules keep that regime cheap: (1) verify with
    // bit_count(xor) over the hash packed into 64-bit words — a codegen
    // integer op, not the 64-char string lambda this path shipped with
    // — and (2) verify BEFORE deduplicating, so the ≤maxHamming
    // survivors (tiny by construction) are all that ever shuffles; the
    // candidate stream itself pipes map-side from the join. Losslessness
    // is untouched (every candidate is still verified exactly). The
    // quadratic Σ bucket² term itself is killed by the WIDE layout
    // (32-bit band keys), not a band cap — a cap would break the
    // no-miss guarantee.
    // pack each word as two 32-bit halves + shift: conv() of 64 bits
    // returns a string whose high-bit values overflow the signed cast
    val packed = (0 until words).foldLeft(bands) { (df, i) =>
      df.withColumn(s"h$i",
        expr(s"shiftleft(cast(conv(substring(bits, ${i * 64 + 1}, 32), 2, 10) as bigint), 32)" +
          s" | cast(conv(substring(bits, ${i * 64 + 33}, 32), 2, 10) as bigint)"))
    }
    val hamming = (0 until words)
      .map(i => expr(s"bit_count(x.h$i ^ y.h$i)"))
      .reduce(_ + _).cast("long").as("hamming")
    packed.as("x").join(packed.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"),
        hamming)
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last,
        col("hamming").asc_nulls_last)
  }

  /** Image fixture with planted near-dups: one real PNG per
    * doc_id ≡ 0 (mod 15) (media_id = 2·doc_id), plus a perturbed
    * variant copy for doc_id ≡ 0 (mod 45) (media_id = 2·doc_id + 1). */
  def imageTable(s: SparkSession, dir: String): Dataset[ImgRec] = {
    import s.implicits._
    def images(modulus: Int, pert: Boolean): DataFrame =
      Tables.t(s, dir, "documents")
        .where(col("doc_id") % modulus === 0)
        .select(col("doc_id"),
          (lit(16) + col("doc_id") % 64).cast("int").as("w"),
          (lit(16) + col("doc_id") % 48).cast("int").as("h"),
          lit(pert).as("pert"))
    images(15, pert = false).unionAll(images(45, pert = true))
      .as[(Long, Int, Int, Boolean)]
      .map { case (id, w, h, pert) =>
        ImgRec(id * 2 + (if (pert) 1 else 0),
          Multimodal.encodePng(id, w, h, pert)) }
  }

  private def q97(s: SparkSession, dir: String): DataFrame =
    phashPairs(s, imageTable(s, dir))

  /** Oracle: replay the pixel formula + perturbation, the block-sum
    * grid, the bit rule, and EXHAUSTIVE all-pairs Hamming in SQL — the
    * banded Spark path must equal it exactly (pigeonhole losslessness
    * is thereby driver-checked, not just argued). */
  private val q97Sql =
    s"""WITH ${blockSumCtesSql(gridRows = 8, gridCols = 9)},
       |bit AS (
       |  SELECT a.media_id, a.gy, a.gx,
       |    CASE WHEN a.s * b.c > b.s * a.c THEN '1' ELSE '0' END AS bch
       |  FROM blk a JOIN blk b
       |    ON a.media_id = b.media_id AND a.gy = b.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8),
       |bits AS (
       |  SELECT media_id, string_agg(bch, '' ORDER BY gy, gx) AS bs
       |  FROM bit GROUP BY media_id),
       |ham AS (
       |  SELECT a.media_id AS a_id, b.media_id AS b_id,
       |    SUM(CASE WHEN substr(a.bs, CAST(i + 1 AS INT), 1)
       |             <> substr(b.bs, CAST(i + 1 AS INT), 1)
       |        THEN 1 ELSE 0 END) AS hamming
       |  FROM bits a JOIN bits b ON a.media_id < b.media_id
       |  CROSS JOIN range(64) t(i)
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
       |FROM ham WHERE hamming <= $MaxHamming
       |ORDER BY a_id ASC NULLS LAST, b_id ASC NULLS LAST,
       |  hamming ASC NULLS LAST""".stripMargin

  private def q97wide(s: SparkSession, dir: String): DataFrame =
    phashPairs(s, imageTable(s, dir), gridRows = 16, gridCols = 17)

  /** Wide-layout oracle: same pixel/block/bit replay at the 16×17 grid.
    * Two deltas vs the 64-bit oracle: (1) a dense (gy, gx) grid with a
    * LEFT JOIN onto the block sums — w < 17 leaves grid columns empty,
    * and the cross-product rule at s = c = 0 must yield '0' exactly as
    * the executor arrays do; (2) hamming via native BIT xor + bit_count
    * instead of a 256-way position join (the 64-bit oracle's
    * `CROSS JOIN range(64)` would cost 4x more here for no fidelity). */
  private val q97WideSql =
    s"""WITH ${blockSumCtesSql(gridRows = 16, gridCols = 17)},
       |grid AS (
       |  SELECT media_id, gy.gy, gx.gx
       |  FROM (SELECT DISTINCT media_id FROM img)
       |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS gy) gy
       |  CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS gx) gx),
       |dense AS (
       |  SELECT g.media_id, g.gy, g.gx,
       |    COALESCE(b.s, 0) AS s, COALESCE(b.c, 0) AS c
       |  FROM grid g LEFT JOIN blk b
       |    ON g.media_id = b.media_id AND g.gy = b.gy AND g.gx = b.gx),
       |bit AS (
       |  SELECT a.media_id, a.gy, a.gx,
       |    CASE WHEN a.s * b.c > b.s * a.c THEN '1' ELSE '0' END AS bch
       |  FROM dense a JOIN dense b
       |    ON a.media_id = b.media_id AND a.gy = b.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 16),
       |bits AS (
       |  SELECT media_id, string_agg(bch, '' ORDER BY gy, gx) AS bs
       |  FROM bit GROUP BY media_id)
       |SELECT a.media_id AS a_id, b.media_id AS b_id,
       |  CAST(bit_count(xor(a.bs::BIT, b.bs::BIT)) AS BIGINT) AS hamming
       |FROM bits a JOIN bits b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.bs::BIT, b.bs::BIT)) <= $MaxHamming
       |ORDER BY a_id ASC NULLS LAST, b_id ASC NULLS LAST,
       |  hamming ASC NULLS LAST""".stripMargin

  /** Oracle CTEs shared by both q97 layouts: `img` (the fixture's base
    * and variant images, as in [[imageTable]]), `e` (one row per pixel
    * index), `px` (the [[Multimodal.encodePng]] pixel formula with the
    * variant's red-channel shift, summed to r+g+b luminance) and `blk`
    * (per-(gx, gy) block sums s and pixel counts c on the
    * gridRows × gridCols grid, gx = x·gridCols / w). */
  private def blockSumCtesSql(gridRows: Int, gridCols: Int): String =
    s"""img AS (
       |  SELECT doc_id * 2 AS media_id, doc_id, 0 AS pert,
       |    CAST(16 + doc_id % 64 AS INT) AS w, CAST(16 + doc_id % 48 AS INT) AS h
       |  FROM documents WHERE doc_id % 15 = 0
       |  UNION ALL
       |  SELECT doc_id * 2 + 1, doc_id, 1,
       |    CAST(16 + doc_id % 64 AS INT), CAST(16 + doc_id % 48 AS INT)
       |  FROM documents WHERE doc_id % 45 = 0),
       |e AS (
       |  SELECT media_id, doc_id, pert, w, h,
       |    unnest(generate_series(0, w * h - 1)) AS i FROM img),
       |px AS (
       |  SELECT media_id, w, h, i % w AS x, i // w AS y,
       |    CASE WHEN pert = 1 AND i % 101 = 0
       |      THEN ((doc_id * 7 + (i % w) * 3 + (i // w) * 5) % 256 + 40) % 256
       |      ELSE (doc_id * 7 + (i % w) * 3 + (i // w) * 5) % 256 END
       |    + (doc_id * 11 + (i % w) * 13 + (i // w) * 2) % 256
       |    + (doc_id * 3 + (i % w) + (i // w) * 17) % 256 AS lum
       |  FROM e),
       |blk AS (
       |  SELECT media_id, (x * $gridCols) // w AS gx, (y * $gridRows) // h AS gy,
       |    SUM(lum) AS s, COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3)""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q97_phash_dedup", q97, Some(q97Sql)),
    QueryDef("q97_phash_wide", q97wide, Some(q97WideSql)))
}
