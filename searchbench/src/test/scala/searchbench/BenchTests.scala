package searchbench

import graft.GraftExtensions
import graft.operators.Search
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: `python3 searchbench/build.py test`.
  * Argument: a scratch directory (deleted and recreated).
  */
object BenchTests {
  private var failed = 0
  private val EndToEnd = Seq("setup_s", "query_p50_ms", "ops_per_s", "peak_rss_mb")

  private def test(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val outcome = scala.util.Try(body)
    val s = (System.nanoTime() - t0) / 1e9
    outcome.failed.foreach { e => failed += 1; e.printStackTrace() }
    println(f"${if (outcome.isSuccess) "ok  " else "FAIL"} $name ($s%.1f s)")
  }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def filesUnder(dir: String): Map[String, Seq[Byte]] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => Paths.get(dir).relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def generated(dir: String, seed: Long): Map[String, Seq[Byte]] = {
    val g = new Gen(seed)
    val docs = g.docs(0, 1L, 300)
    Corpus.writeJson(s"$dir/corpus", docs, 3, g.malformedPositions(docs.size))
    Corpus.writeQueries(s"$dir/queries.txt", g.queries(200, docs))
    filesUnder(dir)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("searchbench-test-work")
    val root = Paths.get(work)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
    Files.createDirectories(root)

    test("generator: same seed gives byte-identical files, another seed differs") {
      val a = generated(s"$work/gen-a", 7)
      val b = generated(s"$work/gen-b", 7)
      val c = generated(s"$work/gen-c", 8)
      check(a.keySet == Set("corpus/AA00", "corpus/AA01", "corpus/AA02", "queries.txt"), s"files ${a.keySet}")
      check(a == b, "seed 7 twice gave different bytes")
      check(a.keySet == c.keySet && a.keySet.forall(k => a(k) != c(k)), "seeds 7 and 8 share a file")
    }

    test("generator: vocabulary agrees with filterText and normalize; query mix") {
      val g = new Gen(3)
      check(g.vocab.forall(_.matches("[a-z]+")), "non [a-z] word")
      check(g.vocab.distinct.size == g.vocab.size, "duplicate word")
      check(g.vocab.forall(w => graft.functions.TextOps.filterTextScala(w).trim == w),
        "filterText changes a vocabulary word")
      val docs = g.docs(0, 1L, 200)
      val qs = g.queries(2000, docs)
      check(qs.forall(q => q.terms.size >= 1 && q.terms.size <= 4), "query length")
      val df = docs.flatMap(_.tokens.distinct).groupBy(identity).map { case (w, ws) => w -> ws.size }
      check(qs.filter(_.kind == "tail").forall(_.terms.forall(w => df.get(w).exists(_ <= 2))),
        "a tail term is not a word of df 1 or 2")
      // every cycle of shapes holds the whole mix
      qs.grouped(Gen.ShapeCycle).foreach { c =>
        check(c.count(_.kind == "absent") == 1, s"absent queries in ${c.map(_.text)}")
        check(c.exists(q => q.terms.distinct.size < q.terms.size), "no repeated term in a cycle")
        check(Seq("head", "mid", "tail").forall(k => c.exists(_.kind.contains(k))), "a term class is missing")
        check((1 to 4).forall(n => c.exists(_.terms.size == n)), "a query length is missing")
      }
    }

    test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
      val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
      def named(key: String) = spec.get(key).elements().asScala
        .map(m => (m.get("name").asText, m.get("unit").asText)).toSeq
      check(named("per_layer") == Main.PerLayer.map { case (n, _, _, u) => (n, u) },
        "per_layer differs from Main.PerLayer")
      check(named("end_to_end") == EndToEnd.zip(Seq("s", "ms", "1/s", "MB")),
        s"end_to_end ${named("end_to_end")}")
      check(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Bench.Workloads,
        "workloads differ")
    }

    lazy val spark = SparkSession.builder().master("local[2]").appName("searchbench-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions).getOrCreate()

    test("scorer: matches Search.searchTopK on the 4-doc fixture") {
      import spark.implicits._
      // SearchSpec's fixture: after normalize, doc 1 "the cat sat",
      // doc 2 "the the dog", doc 3 "cat dog cat", doc 4 "bird"
      val fixture = Seq(
        (1L, "The cat sat!", "en", "s1", 12L), (2L, "the THE dog", "en", "s1", 11L),
        (3L, "cat dog cat", "en", "s2", 11L), (4L, "bird", "en", "s2", 4L))
      fixture.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$work/fixture/documents.parquet")
      val scorer = new Scorer
      scorer.add(fixture.map { case (id, text, _, _, _) =>
        val toks = text.toLowerCase.replaceAll("[^a-z ]", " ").split(" +").filter(_.nonEmpty)
        Doc(id, "", "", toks, text)
      })
      for (q <- Seq("the cat", "cat", "dog the dog", "bird cat", "sat the", "zebra", "the")) {
        val terms = q.split(" ").toSeq
        for (k <- Seq(1, 2, 10)) {
          val got = Search.searchTopK(spark, s"$work/fixture", q, k)
            .collect().map(_.getAs[Long]("doc_id")).toSeq
          check(scorer.topK(terms, k) == got, s"'$q' k=$k: scorer ${scorer.topK(terms, k)}, engine $got")
          check(scorer.accepts(terms, k, got), s"'$q' k=$k not accepted")
        }
      }
      check(!scorer.accepts(Seq("cat"), 2, Seq(1L, 3L)), "wrong order accepted")
      check(scorer.vocabSize == 5 && scorer.postingRows == 8 && scorer.nDocs == 4, "ground-truth counts")
    }

    test("incrementalBucket: matches Spark's pmod(xxhash64(word), Buckets)") {
      import spark.implicits._
      val words = new Gen(5).vocab.take(200)
      val sparkBuckets = words.toDF("word")
        .select(pmod(xxhash64(col("word")), lit(graft.operators.IncrementalIndex.Buckets.toLong)).cast("int"))
        .as[Int].collect().toSeq
      check(words.map(Bench.incrementalBucket) == sparkBuckets, "incrementalBucket differs from Spark's")
    }

    for (w <- Bench.Workloads; traced <- Seq(false, true))
      test(s"smoke: $w at tiny size, trace ${if (traced) 1 else 0}") {
        val dir = s"$work/smoke-$w-$traced"
        val b = new Bench(spark, w, 11, 0.5, traced, dir, Scale.tiny)
        b.run()
        check(b.failures.isEmpty, b.failures.mkString("; "))
        check(b.ops.exists(o => o.phase == "measure" && o.shape == "absent" && o.ok && o.rows == 0),
          "no measured absent-term query returned 0 rows")
        val guarded = Set("search_corpus", "query_postings", "vocabulary", "postings", "build", "indexed")
        check(b.ops.forall(o => o.fork.tiny.isDefined == guarded(o.kind)), "tiny label on an unguarded path")
        val e2e = b.endToEnd()
        check(e2e.map(_._1) == EndToEnd, s"metrics ${e2e.map(_._1)}")
        check(e2e.forall { case (_, v, _, _) => v > 0 }, s"non-positive metric in $e2e")
        if (traced) {
          val seen = b.tracer.spans().map(_.name).toSet
          check(Main.Spans.forall(seen), s"missing spans ${Main.Spans.filterNot(seen)}")
        }
      }

    spark.stop()
    println(if (failed == 0) "all tests passed" else s"$failed test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
