package graft

import graft.operators.Dedup
import graft.sources.ZipfCorpus
import org.apache.spark.sql.functions._

/** One-shot measurement main for the prefix-filter/LSH crossover on the
  * Zipf corpus at an arbitrary doc count — the provenance behind
  * BASELINE.md's candidate-growth table (`sbt "runMain graft.ZipfCrossover
  * 50000"`). Not part of the bench loop: the PLAIN tier at 50k docs
  * materializes ~half a billion candidate pairs by design (that is the
  * blowup the measurement documents), so it runs on demand, with `noplain`
  * as the second arg to skip that tier.
  *
  * Prints one JSON line: candidate counts (plain = Σ df·(df−1)/2, prefix =
  * distinct pairs sharing a rare-first prefix key), wall-clock seconds for
  * each tier's full pairs query (count() over candidates + exact verify),
  * and the bucket maxima that pin LSH/simhash selectivity.
  */
object ZipfCrossover {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val runPlain = !args.lift(1).contains("noplain")
    val spark = Sessions.local(Sessions.cpus(32), "graft-zipf-crossover")
    import spark.implicits._

    val docs = ZipfCorpus.synth(spark.range(n.toLong).select(col("id").as("doc_id")))
      .localCheckpoint()
    val shk = Dedup.shingles(docs)
      .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
      .localCheckpoint()

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val plainCands = shk.groupBy("shk").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).as[Double].head.toLong
    // the operator's OWN candidate stage (Dedup.prefixCandidates) — the
    // published numbers can never drift from the shipped construction
    val t = 0.8
    val prefixCands = Dedup.prefixCandidates(shk, t).count()

    val (prefixPairs, prefixSec) =
      timed(Dedup.ngramJaccardPairsPrefixFromKeys(shk, t).count())
    val sig = Dedup.minhashSignaturesFast(Dedup.shingles(docs), 12).localCheckpoint()
    val (lshPairs, lshSec) =
      timed(Dedup.minhashLshPairsFastFromSigKeys(sig, shk, 6, 2, t).count())
    val maxBand = Dedup.bandRows(sig, 6, 2, cols => xxhash64(cols: _*))
      .groupBy("band", "bh").count().agg(max("count")).as[Long].head
    val (plainPairs, plainSec) =
      if (runPlain) timed(Dedup.ngramJaccardPairsFromKeys(shk, t).count())
      else (-1L, -1.0)

    println(f"""{"n_docs":$n,"plain_candidates":$plainCands,"prefix_candidates":$prefixCands,"prefix_pairs":$prefixPairs,"prefix_sec":$prefixSec%.1f,"lsh_pairs":$lshPairs,"lsh_sec":$lshSec%.1f,"lsh_max_bucket":$maxBand,"plain_pairs":$plainPairs,"plain_sec":$plainSec%.1f}""")
    spark.stop()
  }
}
