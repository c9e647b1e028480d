package graft.tools

import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from sf0.1 for the SCALING
  * CHECKPOINT (SURVEY §6 / VERDICT r18 item 7): replicate every table K
  * times with disjoint key ranges (replica r shifts every entity key by
  * r·10⁷), so the catalog's planted-id arithmetic (+500000…+950000
  * synthesis offsets, %-residue classes, div-100 pairings) stays
  * collision-free and every FK keeps resolving within its replica.
  * Dimension tables with small keys (region, nation) are NOT replicated
  * — facts across replicas share them, exactly how a bigger TPC-H SF
  * behaves for those two tables.
  *
  * Documents get a per-replica edge perturbation (replica token at both
  * ends) so exact hashes, blocking keys, and span sets differ across
  * replicas — without it, every doc would have K byte-identical copies
  * and the dedup family's cluster structure would densify far beyond
  * organic growth. Interior shingles still overlap heavily, so near-dup
  * density is still an UPPER BOUND on organic data; exponents measured
  * against this corpus read conservatively.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <k>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    val Off = 10000000L
    // a fixed 32 shuffle partitions whatever the core count, matching
    // the 32 files written per table (repartition(32) below)
    val spark = graft.Engine.session(graft.Engine.driverSettings(
      conf = Map("spark.sql.shuffle.partitions" -> "32")), "graft")
    spark.sparkContext.setLogLevel("WARN")

    // replicas as a generator column: one read of the base table, a
    // lateral explode over r = 0..k-1, keys shifted by r·Off
    def reps(table: String) = spark.read.parquet(s"$src/$table.parquet")
      .crossJoin(spark.range(k).select((col("id") * Off).as("off")))

    def write(table: String)(df: org.apache.spark.sql.DataFrame): Unit =
      df.drop("off").repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")

    // small dims: single copy, keys unshifted
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    write("documents")(reps("documents")
      .withColumn("doc_id", col("doc_id") + col("off"))
      .withColumn("text",
        when(col("off") === 0L, col("text")).otherwise(
          concat(expr("concat('r', off div 10000000, ' ')"), col("text"),
            expr("concat(' r', off div 10000000)"))))
      .withColumn("n_chars", length(col("text"))))
    write("embeddings")(reps("embeddings")
      .withColumn("vec_id", col("vec_id") + col("off")))
    write("events")(reps("events")
      .withColumn("event_id", col("event_id") + col("off"))
      .withColumn("user_id", col("user_id") + col("off")))
    write("customer")(reps("customer")
      .withColumn("c_custkey", col("c_custkey") + col("off")))
    write("supplier")(reps("supplier")
      .withColumn("s_suppkey", col("s_suppkey") + col("off")))
    write("part")(reps("part")
      .withColumn("p_partkey", col("p_partkey") + col("off")))
    write("orders")(reps("orders")
      .withColumn("o_orderkey", col("o_orderkey") + col("off"))
      .withColumn("o_custkey", col("o_custkey") + col("off")))
    write("lineitem")(reps("lineitem")
      .withColumn("l_orderkey", col("l_orderkey") + col("off"))
      .withColumn("l_partkey", col("l_partkey") + col("off"))
      .withColumn("l_suppkey", col("l_suppkey") + col("off")))
    spark.stop()
  }
}
