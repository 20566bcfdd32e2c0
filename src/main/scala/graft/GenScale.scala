package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates a fixture scale-factor
  * directory N× into a new directory, for scaling studies above the
  * largest driver-provided SF (sf0.1). The driver's own generator is not
  * available, so the 10× point is synthesized from sf0.1 itself:
  *
  *  - fact/dim tables are replicated with per-copy key OFFSETS
  *    (`key + copy · 10^7`) on every join key, so referential integrity
  *    (orders→customer, lineitem→part/supplier/orders) holds exactly and
  *    per-key group sizes stay constant while key cardinality grows N× —
  *    the scaling shape a 10× TPC-H generation would have;
  *  - `region`/`nation` stay single-copy (fixed dimensions, as in TPC-H);
  *  - `documents.text` for copies > 0 gets every token suffixed with the
  *    copy id: within-copy similarity structure (planted near-dup pairs,
  *    hot shingles) is preserved per copy, while cross-copy Jaccard is 0 —
  *    so near-dup PAIR counts scale linearly, as a genuinely 10×-bigger
  *    crawl would, instead of every doc acquiring 9 artificial twins;
  *  - `embeddings` for copies > 0 are fresh deterministic pseudo-random
  *    vectors (hash-derived uniform in [-0.5, 0.5], the fixture's range):
  *    cross-copy cosine stays unstructured instead of 10 exact clones
  *    per vector, and the ANN query set (vec_id < 10) stays fixed while
  *    the corpus grows — the production shape for a scaling study;
  *  - `events.ts` is copied RAW (whatever physical encoding the fixture
  *    uses — INT64 nanos or TIMESTAMP micros) so the written table
  *    round-trips through [[Tables.events]] identically to the fixture's.
  *
  * Usage: sbt "runMain graft.GenScale /root/testdata/sf0.1 target/sf1 10"
  * Output is bench-only (BASELINE.md sf1 scaling table) — correctness
  * oracles keep running on the driver's own fixtures.
  */
object GenScale {
  /** Key offset stride per copy; far above any sf0.1 key (max ~600k). */
  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val copies =
      if (args.length > 2) SessionDefaults.positiveInt("copies", args(2)) else 10
    // optional 4th arg: comma-separated table subset (e.g. "documents"
    // for the simhash tier-3 horizon corpus — 2000 copies of ONE table
    // instead of 30 GB of all ten)
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val cpus = SessionDefaults.envInt("SPARK_GRAFT_CPUS", 32)
    val spark = SessionDefaults.session(srcDir, s"local[$cpus]", cpus)

    def raw(name: String): DataFrame =
      Tables.parquet(spark, s"$srcDir/$name.parquet")

    /** One row per (row, copy), copy column `cp` in [0, copies).
      * The repartition runs on the SMALL source BEFORE the explode: the
      * sf0.1 sources are single small files, so the explode would
      * otherwise run in ONE task and emit ONE file with ONE row group —
      * a layout that serializes every downstream scan and defeats AQE
      * skew splitting entirely. Shuffling first costs only the source's
      * megabytes; shuffling AFTER the explode (the r13 shape) moved the
      * full replicated corpus through the block manager — 52 GB of
      * shuffle files for sf100's lineitem, which exhausted the disk. */
    def rep(df: DataFrame): DataFrame =
      df.repartition(32)
        .withColumn("cp", explode(sequence(lit(0L), lit(copies - 1L))))

    def off(c: String) = (col(c) + col("cp") * Stride).as(c)

    def write(name: String, df: => DataFrame): Unit =
      if (tables.isEmpty || tables.contains(name)) {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[genscale] $name written")
      }

    write("region", raw("region"))
    write("nation", raw("nation"))
    write("customer", rep(raw("customer")).select(off("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    write("supplier", rep(raw("supplier")).select(off("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")))
    write("part", rep(raw("part")).select(off("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")))
    write("orders", rep(raw("orders")).select(off("o_orderkey"),
      off("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")))
    write("lineitem", rep(raw("lineitem")).select(off("l_orderkey"),
      off("l_partkey"), off("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    // ts stays the raw source column (nanos or micros) — see the scaladoc
    write("events", rep(raw("events")).select(off("event_id"), col("ts"),
      off("user_id"), col("event_type"), col("value"), col("props")))
    write("documents", rep(raw("documents")).select(off("doc_id"),
      when(col("cp") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          x => concat(x, lit("_c"), col("cp"))), " ")).as("text"),
      col("lang"), col("source"), col("n_chars"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", rep(raw("embeddings")).select(off("vec_id"),
      when(col("cp") === 0, col("embedding")).otherwise(
        expr(s"""transform(sequence(0, ${operators.VectorSql.Dim - 1}),
                 d -> cast(pmod(hash(vec_id + cp * ${Stride}L, d), 1000000)
                      / 1000000.0 - 0.5 as float))""")).as("embedding"),
      col("label")))

    spark.stop()
  }
}
