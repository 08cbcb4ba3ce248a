// Dev scratch: generate a K-times replica of an SF fixture for the scale
// proof — keys offset per copy so FK joins stay consistent, documents get
// copy-salted token perturbation (cross-copy Jaccard ~0.27 << 0.6, so the
// near-dup pair/cluster structure scales LINEARLY with K instead of every
// doc joining a K-copy clique), embeddings get +-30% per-dim amplitude
// noise (decorrelates copies without destroying label-cluster geometry).
// Run: sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 scaledata/sf1 10"
package graft.tools

import graft.{GraftSession, Tables}
import graft.llm.Tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object ScaleGen {
  val Cap = 100000000L // per-copy key offset; >> any sf0.1 key

  def main(args: Array[String]): Unit = {
    val src    = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst    = args.lift(1).getOrElse("scaledata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cps = spark.range(copies).select(col("id").cast("int").as("cp"))

    def rep(name: String)(remap: DataFrame => DataFrame): Unit = {
      val out = remap(Tables.t(spark, src, name).crossJoin(cps))
        .repartition(32)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name -> ${out.count()} rows")
    }
    def off(c: String): Column = col(c) + col("cp") * Cap

    // dimensions stay fixed — that IS how a star schema scales
    Seq("region", "nation").foreach { n =>
      Tables.t(spark, src, n).write.mode("overwrite")
        .parquet(s"$dst/$n.parquet")
      println(s"$n -> copied")
    }
    rep("customer")(_.select(off("c_custkey").as("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    rep("supplier")(_.select(off("s_suppkey").as("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    rep("part")(_.select(off("p_partkey").as("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")))
    rep("orders")(_.select(off("o_orderkey").as("o_orderkey"),
      off("o_custkey").as("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    rep("lineitem")(_.select(off("l_orderkey").as("l_orderkey"),
      off("l_partkey").as("l_partkey"), off("l_suppkey").as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    rep("events")(_.select(off("event_id").as("event_id"), col("ts"),
      off("user_id").as("user_id"), col("event_type"), col("value"),
      col("props")))
    // copy-salted token substitution (~45%): deterministic per (token, cp),
    // so within-copy pair similarity is EXACTLY the original corpus's and
    // cross-copy similarity collapses (copy0-vs-copyK ~0.55/1.45 ~= 0.38,
    // copyJ-vs-copyK ~0.3/1.7 ~= 0.18 — both safely under the 0.6 pair
    // threshold, so near-dup structure scales linearly with K)
    rep("documents") { df =>
      df.select(off("doc_id").as("doc_id"),
        when(col("cp") === 0, col("text")).otherwise(
          array_join(transform(Tokens.words(col("text")), (t: Column) =>
            when(pmod(xxhash64(t, col("cp")), lit(100L)) < 45,
              concat(t, lit("~"), col("cp"))).otherwise(t)), " "))
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // per-dim amplitude jitter in [0.7, 1.3]: copies decorrelate (cosine
    // drops below near-dup thresholds) while label clusters keep shape
    rep("embeddings") { df =>
      df.select(off("vec_id").as("vec_id"),
        when(col("cp") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x: Column, j: Column) =>
            (x * (lit(0.7f) +
              pmod(xxhash64(col("vec_id"), col("cp"), j), lit(1000L))
                .cast("float") / lit(1000.0f) * lit(0.6f))).cast("float")))
          .as("embedding"),
        col("label"))
    }
    spark.stop()
  }
}
