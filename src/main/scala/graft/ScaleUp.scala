package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Scale-factor multiplier for superlinearity audits: replicates the
  * driver-generated tables (TESTDATA.md) by an integer factor with
  * consistent key remapping, producing an sf×F directory the bench can
  * run unchanged (`ScaleUp <srcDir> <dstDir> <factor>`).
  *
  * The point is to measure ENGINE scaling, so the scaled corpus must
  * keep the same distributional shape per unit of data — naive
  * replication would not:
  *  - every key column (primary AND the foreign keys that reference
  *    it) is offset by `replica × (max+1)` so referential integrity
  *    holds per replica and group cardinalities grow 10× in COUNT, not
  *    10× in SIZE (a group that was 40 rows stays 40 rows — there are
  *    just 10× as many groups);
  *  - `documents.text` is perturbed per replica (every 3rd word gets a
  *    `~<replica>` suffix): replica 0 is the original corpus verbatim,
  *    and cross-replica shingle overlap collapses, so exact-dup and
  *    near-dup RATES stay flat instead of every doc becoming a
  *    10-member duplicate group (which would grow LSH pair output
  *    ~45× at factor 10 for data reasons, not engine reasons);
  *  - `embeddings.embedding` mixes in deterministic pseudo-noise
  *    (0.6·e + 0.8·‖e‖/√d·sin(vec_id, dim, replica)) for replicas > 0:
  *    cosine(original, replica) ≈ 0.6, far below near-dup thresholds,
  *    so cosine-pair structure also stays flat while the marginal
  *    norm/dim distribution barely moves;
  *  - dimension tables (`region`, `nation`) are fixed, like TPC-H at
  *    any SF; timestamps keep their range (10× the volume per day —
  *    the standard TPC-H time-scaling shape).
  *
  * Output is written `repartition(32)` so the scan layout is
  * many-file, matching how a real lake at that size would look.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor <= 100, s"factor $factor out of range")
    val spark = GraftSession.start(GraftSession.suite)
    val t = Tables(spark, src)

    // replica axis: crossJoin with a broadcast F-row frame — one
    // narrow plan per table, no driver-side loops or F-way unions
    val reps = broadcast(spark.range(factor).select(col("id").as("_rep")))
    def replicate(df: DataFrame): DataFrame = df.crossJoin(reps)

    // key-domain stride per table = max+1 (collected once; tiny aggs)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L
    val (cK, sK, pK, oK) = (stride(t.customer, "c_custkey"),
      stride(t.supplier, "s_suppkey"), stride(t.part, "p_partkey"),
      stride(t.orders, "o_orderkey"))
    val eK = stride(t.events.select(col("event_id")), "event_id")
    val uK = stride(t.events.select(col("user_id")), "user_id")
    val dK = stride(t.documents, "doc_id")
    val vK = stride(t.embeddings, "vec_id")

    def off(c: String, k: Long) = (col(c) + col("_rep") * k).as(c)

    def write(df: DataFrame, name: String): Unit = {
      df.drop("_rep").repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaleup: $name done")
    }

    write(t.region, "region")
    write(t.nation, "nation")
    write(replicate(t.customer).withColumn("c_custkey", off("c_custkey", cK)),
      "customer")
    write(replicate(t.supplier).withColumn("s_suppkey", off("s_suppkey", sK)),
      "supplier")
    write(replicate(t.part).withColumn("p_partkey", off("p_partkey", pK)),
      "part")
    write(replicate(t.orders)
      .withColumn("o_orderkey", off("o_orderkey", oK))
      .withColumn("o_custkey", off("o_custkey", cK)), "orders")
    write(replicate(t.lineitem)
      .withColumn("l_orderkey", off("l_orderkey", oK))
      .withColumn("l_partkey", off("l_partkey", pK))
      .withColumn("l_suppkey", off("l_suppkey", sK)), "lineitem")
    // events: Tables.events converts nanos→µs timestamp on read; the
    // scaled copy is plain µs TIMESTAMP parquet, which Tables.events
    // passes through untouched (schema probe, not dir-name probe)
    write(replicate(t.events)
      .withColumn("event_id", off("event_id", eK))
      .withColumn("user_id", off("user_id", uK)), "events")
    // text: replica 0 verbatim; others tag every 3rd word, killing
    // cross-replica shingle overlap (any k≥3-gram spans a tagged word).
    // The tag is ALNUM and concatenates with no separator ("tableq3x"):
    // the round-9 form appended "~<rep>", and normalizeText maps "~"
    // to a space — the tag became its own token, the original word
    // survived verbatim, and every trigram window between tag tokens
    // stayed shared across replicas. That leak made the r11 full-suite
    // ×10 audit read q182/q204 candidate growth as quadratic (39M/66M
    // pairs) for DATA reasons; with the in-word tag, cross-replica
    // token overlap actually collapses as documented.
    val tagged = array_join(
      zip_with(split(col("text"), " "),
        sequence(lit(0), size(split(col("text"), " ")) - 1),
        (w, j) => when(pmod(j, lit(3)) === 0,
          concat(w, lit("q"), col("_rep"), lit("x"))).otherwise(w)), " ")
    write(replicate(t.documents)
      .withColumn("doc_id", off("doc_id", dK))
      .withColumn("text",
        when(col("_rep") === 0, col("text")).otherwise(tagged))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    // embeddings: deterministic noise mix keyed on (vec_id, dim, rep)
    val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val dim = size(col("embedding")).cast("double")
    val noisy = zip_with(col("embedding"),
      sequence(lit(0), size(col("embedding")) - 1),
      (x, j) => (x.cast("double") * 0.6 +
        sin(col("vec_id") * 0.131 + j.cast("double") * 0.979 +
          col("_rep") * 1.7) * 0.8 * norm / sqrt(dim)).cast(FloatType))
    // empty-array guard: sequence(0, size-1) on size=0 is sequence(0,-1)
    // = [0,-1], which would turn an empty embedding into a 2-element
    // garbage array for replicas > 0 — keep empties empty
    write(replicate(t.embeddings)
      .withColumn("vec_id", off("vec_id", vK))
      .withColumn("embedding",
        when(col("_rep") === 0 || size(col("embedding")) === 0,
          col("embedding")).otherwise(noisy)),
      "embeddings")
    spark.stop()
  }
}
