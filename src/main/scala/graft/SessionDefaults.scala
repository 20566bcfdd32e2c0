package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every entry point (Bench, Verify, Runner,
  * PlanDump, GenScale) and the test session build their
  * SparkSession through [[session]], so the answer Verify checks is
  * computed under the confs Bench times. The profile is the scale-tier
  * confs (the LIBRARY's deployment defaults — they are what make
  * q105/q21/q62/q72/q87 survive the sf100 tier) plus a fixed base:
  * UTC, the nanos-timestamp fixture conf, the UI off and the zstd
  * shuffle codec. [[Tier.confs]] also carries two settings that are the
  * same at every tier, so that [[configure]] applies them too: the
  * driver's result-size cap and the size of the compiled-class cache.
  * Everything else is Spark's own default (AQE, skew join, partition
  * coalescing, shuffle checksums and compression).
  *
  * The tier key is the corpus footprint, probed from the on-disk bytes
  * of the largest fact table (`lineitem`):
  *
  *  - fixture (≤ 512 MB): Spark's own broadcast thresholds and
  *    compression factor. The sub-GB boards and their pinned plan
  *    contracts stay byte-identical.
  *  - sf10 tier (> 512 MB): 64m broadcast thresholds — the filtered
  *    TPC-H dims (part/customer projections) still fit any sane
  *    executor, and the r15h decade study measured the SMJ fallback
  *    costing 68-93x once they stop broadcasting.
  *  - sf100 tier (> 8 GiB): static 384m / adaptive 128m. Static sees
  *    RAW file-size estimates (a filtered dim keeps its full-file
  *    estimate without CBO) so it can run higher; adaptive sees
  *    COMPRESSED post-shuffle bytes — a 450 MB zstd shuffle of narrow
  *    rows expanded to an 11.8 GiB in-memory relation in the r16 tail
  *    run (q21_setops hit Spark's hard 8 GiB broadcast cap), so 128m
  *    compressed ≈ 1-2 GB built is the safe bound.
  *    `fileCompressionFactor=6` makes static estimates track raw bytes
  *    (this corpus's parquet compresses 6-10x): fact projections clear
  *    the threshold while genuinely small filtered dims stay under it.
  *
  * MEMORY CONTRACT (VERDICT r16 item 6): the sf100 thresholds assume
  * the scale protocol's 48 g driver/executor heap (broadcast builds
  * collect to the driver and every executor holds the built relation).
  * On ordinary 4-8 g executors, derive the thresholds from executor
  * memory instead: keep the built relation under ~25% of the heap,
  * i.e. adaptive ≈ heap/16 compressed (the observed 6-10x expansion
  * plus hash-table overhead). The fixture tier is memory-safe
  * everywhere (Spark's default thresholds).
  */
object SessionDefaults {

  /** Lineitem footprint above which the sf10-tier confs apply. */
  val Sf10FloorBytes: Long = 512L << 20
  /** Lineitem footprint above which the sf100-tier confs apply. */
  val Sf100FloorBytes: Long = 8L << 30

  /** The confs [[configure]] applies, as (conf key → value): the three
    * tier-derived ones plus two that every tier shares (the driver's
    * result-size cap and the compiled-class cache size). */
  final case class Tier(
      bcastStatic: String,
      bcastAdaptive: String,
      fileCompressionFactor: String) {
    def confs: Seq[(String, String)] = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> bcastStatic,
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> bcastAdaptive,
      "spark.sql.sources.fileCompressionFactor" -> fileCompressionFactor,
      // broadcast builds collect to the driver as task results; the 1g
      // default cancels legitimate 128-384m-threshold builds at sf100
      // (r16 tail: q27/q62). Bounded well under every driver heap the
      // protocol uses (8g fixture / 48g scale runs).
      "spark.driver.maxResultSize" -> "4g",
      // the JVM-wide cache of compiled generated classes (static conf,
      // read once when the first class is compiled). The cache splits its
      // size over 4 LRU segments. One pass of the gated TPC-H benchmark
      // uses about 150 distinct classes at sf0.1, about 38 per segment:
      // the default 100 (25 per segment) recompiled 144 of them on every
      // later pass, while 1000 (250 per segment) holds the set over six
      // times. A whole-registry pass (about 4,000 classes) still cycles
      // it; the larger cache cost 7 MB of metaspace there.
      "spark.sql.codegen.cache.maxEntries" -> "1000")
  }

  /** Pure tier derivation from the corpus footprint. */
  def tierFor(lineitemBytes: Long): Tier =
    if (lineitemBytes > Sf100FloorBytes) Tier("384m", "128m", "6.0")
    else if (lineitemBytes > Sf10FloorBytes) Tier("64m", "64m", "1.0")
    else Tier("10m", "10m", "1.0")

  /** On-disk bytes of `$sfDir/lineitem.parquet` — the tier probe.
    * Session-free (callers size the tier BEFORE building the session). */
  def lineitemBytes(sfDir: String): Long = lineitemSize(sfDir).getOrElse(0L)

  private def lineitemSize(sfDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/lineitem.parquet")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(p)) Some(fs.getContentSummary(p).getLength) else None
  }

  /** The tier for a corpus directory. A directory without
    * `lineitem.parquet` is not a corpus (a mistyped SPARK_GRAFT_SF_DIR,
    * say): it fails here, before any session is built, rather than
    * reading as the fixture tier and failing every query on its tables. */
  def forDir(sfDir: String): Tier = tierFor(lineitemSize(sfDir).getOrElse(
    throw new IllegalArgumentException(
      s"corpus dir '$sfDir' has no lineitem.parquet; is the sf dir right?")))

  /** Apply a tier's confs to a session builder. */
  def configure(b: SparkSession.Builder, tier: Tier): SparkSession.Builder =
    withConfs(b, tier.confs)

  /** The full profile for a tier: its confs plus the tier-independent
    * base every session carries. zstd shrank the row-major shuffle
    * payload 31-34% against the lz4 default at runtime parity
    * (BASELINE.md, round 5). */
  def profile(tier: Tier, partitions: Int): Seq[(String, String)] =
    tier.confs ++ Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      Tables.NanosConf -> "true",
      "spark.ui.enabled" -> "false",
      "spark.io.compression.codec" -> "zstd")

  /** The only place a SparkSession is built: [[profile]] for `sfDir`'s
    * tier on `master` with `partitions` shuffle partitions. */
  def session(sfDir: String, master: String, partitions: Int): SparkSession = {
    val spark = withConfs(SparkSession.builder().master(master),
      profile(forDir(sfDir), partitions)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def withConfs(b: SparkSession.Builder,
      confs: Seq[(String, String)]): SparkSession.Builder =
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** `raw` as a positive Int, or an error naming `key` and the value. */
  def positiveInt(key: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$raw'"))

  /** [[positiveInt]] over env var `key`, `default` when it is unset. */
  def envInt(key: String, default: Int): Int =
    sys.env.get(key).fold(default)(positiveInt(key, _))
}
