package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: synthesizes an sfN dataset from the driver's
  * sf0.1 testdata by unioning `factor` key-shifted copies, so the
  * bench can produce a larger-scale datapoint (the driver ships no
  * sf1). Shapes match the driver's tables (TESTDATA.md); events `ts`
  * is copied in whatever representation the source uses (BIGINT
  * nanos under the legacy conf for older testdata, a real timestamp
  * column for newer).
  *
  * Copies are not verbatim:
  *  - documents: every token of a copied doc is replaced with
  *    probability ~1/2 by a vocabulary word chosen by a per-position
  *    hash, so copies are NOT near-duplicates of their originals and
  *    cross-copy similarity stays corpus-like (verbatim copies would
  *    plant factor^2/2 true near-dup pairs per document and turn the
  *    dedup benches into output-volume tests).
  *  - embeddings: deterministic per-dimension perturbation, same
  *    rationale.
  *  - TPC-H tables: key columns shifted per copy, preserving FK
  *    consistency (customer/order/part/supp keys shift by the same
  *    per-entity stride).
  *
  * Usage: runMain graft.GenScale [factor] [outDir]  (defaults 10,
  * target/sf1 under the working directory)
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val outDir = args.drop(1).headOption.getOrElse(new java.io.File("target/sf1").getAbsolutePath)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SRC_SF", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    // fixed-size dimensions: verbatim
    write(src("region"), "region")
    write(src("nation"), "nation")

    val custStride = src("customer").agg(max("c_custkey")).head.getLong(0) + 1
    val suppStride = src("supplier").agg(max("s_suppkey")).head.getLong(0) + 1
    val partStride = src("part").agg(max("p_partkey")).head.getLong(0) + 1
    val orderStride = src("orders").agg(max("o_orderkey")).head.getLong(0) + 1

    write(copies(src("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custStride))
    }, "customer")
    write(copies(src("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppStride))
    }, "supplier")
    write(copies(src("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partStride))
    }, "part")
    write(copies(src("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custStride))
    }, "orders")
    write(copies(src("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppStride))
    }, "lineitem")

    // events: older testdata ships ts as BIGINT nanos (legacy conf),
    // newer as a real timestamp; shift ids and jitter ts by i minutes
    // per copy in whichever representation the source uses
    val eventStride = src("events").agg(max("event_id")).head.getLong(0) + 1
    val userStride = src("events").agg(max("user_id")).head.getLong(0) + 1
    val tsIsLegacyNanos =
      src("events").schema("ts").dataType == org.apache.spark.sql.types.LongType
    write(copies(src("events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eventStride))
        .withColumn("user_id", col("user_id") + lit(i * userStride))
        .withColumn("ts",
          if (tsIsLegacyNanos) col("ts") + lit(i * 60_000_000_000L)
          else col("ts") + expr(s"INTERVAL '$i' MINUTE"))
    }, "events")

    // documents: copy 0 verbatim; copies 1.. mutate ~half the tokens
    // via a per-position hash into vocabulary words
    val docs = src("documents")
    val docStride = docs.agg(max("doc_id")).head.getLong(0) + 1
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0))
    val vocabLit = typedLit(vocab.toSeq)
    write(copies(docs) { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * docStride))
      if (i == 0) shifted
      else {
        val mutated = concat_ws(" ",
          transform(split(col("text"), " "), (w, p) => {
            val h = abs(hash(col("doc_id"), p, lit(i)))
            when(h % 2 === 0, w).otherwise(element_at(vocabLit, (h % vocab.length).cast("int") + 1))
          }))
        shifted.withColumn("text", mutated).withColumn("n_chars", length(col("text")))
      }
    }, "documents")

    // embeddings: perturb each dimension deterministically (~±5%)
    val vecStride = src("embeddings").agg(max("vec_id")).head.getLong(0) + 1
    write(copies(src("embeddings")) { (df, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, d) =>
          (x + (hash(col("vec_id"), d, lit(i)) % 100).cast("float") / lit(1000.0f)).cast("float")))
    }, "embeddings")

    spark.stop()
  }
}
