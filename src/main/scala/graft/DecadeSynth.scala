package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decade-up test tier for the relational/event/search families
  * (round-10 verdict #4): replicate an SF dir `factor`× with shifted
  * keys, so the headline queries can be timed one decade up without a
  * driver-side regeneration. The zipf treatment covers dedup/DSIR/BPE
  * growth; this covers everything that reads the TPC-H-ish and event
  * tables.
  *
  * Key discipline: every entity key k becomes k·factor + i for copy i —
  * unique, and JOIN-CONSISTENT because both sides of every FK pair
  * (orders.o_custkey ↔ customer.c_custkey, lineitem.l_orderkey ↔
  * orders.o_orderkey) transform identically. Non-key attributes are
  * copied, so value distributions per partition key grow exactly 10×
  * (e.g. each l_suppkey's window partition — the q_window_running
  * stress — has 10× the rows). Dimension tables (nation, region,
  * supplier, part) copy verbatim: dims don't scale with fact decades.
  *
  * `sbt "runMain graft.DecadeSynth [srcDir] [outDir] [factor]"`
  */
object DecadeSynth {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(Sessions.cpus(32), "graft-decade-synth")

    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val copies = explode(sequence(lit(0), lit(factor - 1))).as("copy_i")
      keys.foldLeft(df.select(col("*"), copies)) { (d, k) =>
        d.withColumn(k, col(k) * factor + col("copy_i"))
      }.drop("copy_i")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[decade] wrote $name")
    }

    write(replicate(Tables.documents(spark, src), Seq("doc_id")), "documents")
    write(replicate(Tables.events(spark, src), Seq("event_id", "user_id")), "events")
    write(replicate(Tables(spark, src, "orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(Tables(spark, src, "lineitem"), Seq("l_orderkey")), "lineitem")
    write(replicate(Tables(spark, src, "customer"), Seq("c_custkey")), "customer")
    write(replicate(Tables.embeddings(spark, src), Seq("vec_id")), "embeddings")
    Seq("nation", "region", "supplier", "part")
      .foreach(t => write(Tables(spark, src, t), t))
    spark.stop()
  }
}
