package searchbench

import graft.operators.{BatchCommit, IncrementalIndex, Search, Spread}
import graft.sources.Tables
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Input sizes: documents of the scanned corpus (`oneshot_scan`) and of
  * the indexed one (`indexed_serve`, `build_ingest`), documents per ingest
  * batch, set-ups per run (the median is reported) and untimed warm-up
  * queries. `full` is the benchmark; `tiny` is the smoke-test size.
  */
final case class Scale(scanDocs: Int, indexDocs: Int, shards: Int, batchDocs: Int,
                       setups: Int, warmup: Int)

object Scale {
  val full = Scale(scanDocs = 1201, indexDocs = 501, shards = 8, batchDocs = 50, setups = 3, warmup = 1)
  val tiny = Scale(scanDocs = 151, indexDocs = 101, shards = 3, batchDocs = 30, setups = 2, warmup = 1)
}

/** The fork an operation takes: the planned partition count of its source
  * scan and, when the program's code path consults its small-input guard
  * on that scan, whether `Spread.isTiny` held (None where it does not).
  */
final case class Fork(scanPartitions: Int, tiny: Option[Boolean])

/** One timed call into the program, labelled with its fork; `shape` is a
  * query's `Query.kind` ("" for other calls) and `rows` the rows it
  * returned (-1 where it returns none).
  */
final case class Op(kind: String, phase: String, shape: String, ms: Double, ok: Boolean,
                    rows: Long, fork: Fork, traced: Boolean)

object Bench {
  val Workloads = Seq("oneshot_scan", "indexed_serve", "build_ingest")
  val K = 10
  /** `build_ingest`'s cycle: this many ingest batches, each followed by
    * `QueriesPerBatch` queries, then compaction and `QueriesPerBatch` more
    * queries, which makes one whole cycle of query shapes.
    */
  val BatchesPerCycle = 4
  val QueriesPerBatch = 2
  require((BatchesPerCycle + 1) * QueriesPerBatch == Gen.ShapeCycle)
  /** Operation kinds whose latencies make the query metrics. */
  val QueryKinds = Set("search_corpus", "indexed", "incremental")

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The incremental index's postings bucket of `word`:
    * pmod(xxhash64(word), Buckets), with the seed (42) of Spark's xxhash64.
    */
  def incrementalBucket(word: String): Int =
    Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(word), 42L), IncrementalIndex.Buckets.toLong).toInt
}

/** One run of one workload: generate the inputs from the seed, set up,
  * drive the program's public entry points in a closed loop with one
  * client for `seconds` and then to the end of the current cycle, and check
  * every answer against `Scorer`. Every cycle does the same mix of work on
  * a state of the same layout, so a faster program runs more cycles but
  * never measures a different mix.
  */
final class Bench(spark: SparkSession, workload: String, seed: Long,
                  seconds: Double, traced: Boolean, work: String, scale: Scale) {
  import Bench._
  import spark.implicits._
  require(Workloads.contains(workload), s"unknown workload $workload")

  val nproc: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark)
  val ops = mutable.ArrayBuffer[Op]()
  val setupSeconds = mutable.ArrayBuffer[Double]()
  val failures = mutable.ArrayBuffer[String]()
  val record = mutable.LinkedHashMap[String, Any]()

  private val gen = new Gen(seed)
  private val corpusDir = s"$work/corpus"
  private val docsDir = s"$work/docs"
  private val docsPath = s"$docsDir/documents.parquet"
  private val base =
    gen.docs(0, 1L, if (workload == "oneshot_scan") scale.scanDocs else scale.indexDocs)
  /** `build_ingest`'s batches 1..BatchesPerCycle: fresh, id-disjoint docs. */
  private val batchDocs = (1 to BatchesPerCycle).map(b =>
    gen.docs(b, base.last.id + 1 + (b - 1) * scale.batchDocs, scale.batchDocs))
  private def batchPath(b: Int) = s"$work/batches/b$b.parquet"
  private val queries = gen.queries(200 * Gen.ShapeCycle, base)
  /** Query `j` of cycle `c`: every cycle serves each shape once, with words
    * of its own. Warm-up queries come from the second half of the list.
    */
  private def cycleQuery(c: Int, j: Int): Query = queries((c * Gen.ShapeCycle + j) % (queries.size / 2))
  private def warmupQuery(j: Int): Query = queries(queries.size / 2 + j)
  private val planted = gen.malformedPositions(base.size)
  private var jsonLines = 0
  private var jsonBytes = 0L
  private val byId = mutable.HashMap[Long, Doc]()
  /** Ground truth of the base corpus, and of the incremental index's
    * ingested batches.
    */
  private val truth = new Scorer
  private var incTruth = new Scorer
  private lazy val byTitle = base.map(d => d.title -> d).toMap
  private var indexDir = ""
  private var vocabIds = Map.empty[String, Long]
  private var incDir = ""
  /** The incremental index's state within a cycle: batches ingested since
    * the set-up index, or compacted. Equal states have equal layouts.
    */
  private var incState = ""

  private def fail(what: String): Unit = if (failures.size < 50) failures += what

  /** Seconds the benchmark itself spends outside timed calls, by activity. */
  val harnessSeconds = mutable.LinkedHashMap[String, Double]()
  private def harness[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally harnessSeconds(what) = harnessSeconds.getOrElse(what, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private def time[T](f: => T): (Try[T], Double) = {
    val t0 = System.nanoTime()
    val r = Try(f)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def writeDocs(path: String, docs: Seq[Doc]): Unit =
    docs.map(d => (d.id, d.text, d.title, d.url, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(path)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private object Plans extends AdaptiveSparkPlanHelper
  private def filesRead(df: DataFrame): Double =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble

  private def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir))
  }

  // ---- sources: what each operation scans first ----

  private def corpus: DataFrame = Tables.corpusJson(spark, corpusDir)
  private def corpusDocs: DataFrame = corpus.select(col("id").as("doc_id"), col("text"))
  private def documents: DataFrame = Tables.documents(spark, docsDir)

  private def corpusKey = "corpus@" + spark.conf.get("spark.sql.files.maxPartitionBytes")

  /** The postings buckets a query reads, as the index's query path computes
    * them, from the query's words that the index holds: word id mod
    * `Search.IndexBuckets` for the batch index, `incrementalBucket` for the
    * incremental one.
    */
  private def indexedBuckets(q: Query): Seq[Int] =
    q.terms.distinct.flatMap(vocabIds.get).map(id => (id % Search.IndexBuckets).toInt).distinct.sorted

  private def incrementalBuckets(q: Query): Seq[Int] =
    q.terms.distinct.filter(incTruth.df(_) > 0).map(incrementalBucket).distinct.sorted

  private def incrementalPostings: DataFrame =
    BatchCommit.readCommitted(spark, s"$incDir/postings").get

  private val forkOf = mutable.HashMap[String, Fork]()

  /** Plans the fork of an operation whose source scan is `source`, once
    * per `key`. `guarded` says whether the operation's code path consults
    * `Spread.isTiny`/`Spread.tight` on that scan.
    */
  private def fork(key: String, guarded: Boolean)(source: => DataFrame): Fork =
    harness("fork")(forkOf.getOrElseUpdate(s"$key|$guarded", Try {
      val s = source
      Fork(s.rdd.getNumPartitions, if (guarded) Some(Spread.isTiny(s)) else None)
    }.getOrElse(Fork(-1, None))))

  /** Times `call` as one operation of `kind`, traced as span `span`, then
    * checks its result; returns the milliseconds it took. A throw or a
    * wrong answer fails the operation.
    */
  private def op[T](kind: String, span: String, phase: String, fork: Fork, shape: String = "")
                   (call: OpenSpan => T)(check: T => Option[String]): Double = {
    val open = new OpenSpan(span)
    open.count("scan_partitions", fork.scanPartitions)
    fork.tiny.foreach(t => open.count("tiny", if (t) 1 else 0))
    val (res, ms) = time(tracer.span(open)(call))
    val problem = harness("check")(res match {
      case Success(v) => Try(check(v)).fold(e => Some(s"check threw $e"), identity)
      case Failure(e) => Some(s"threw $e")
    })
    problem.foreach(p => fail(s"$kind/$phase: $p"))
    ops += Op(kind, phase, shape, ms, problem.isEmpty, open.counts.get("rows_out").fold(-1L)(_.toLong),
      fork, tracer.on)
    ms
  }

  private def expectRows(q: Query, ids: Seq[Long], truth: Scorer): Option[String] =
    if (truth.accepts(q.terms, K, ids)) None
    else Some(s"query '${q.text}': got ${ids.mkString(",")}, want ${truth.topK(q.terms, K).mkString(",")}")

  private def checkHits(q: Query, rows: Array[Row], truth: Scorer): Option[String] = {
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    val meta = rows.forall { r =>
      byId.get(r.getAs[Long]("doc_id"))
        .exists(d => d.url == r.getAs[String]("source") && d.title == r.getAs[String]("lang"))
    }
    if (!meta) Some(s"query '${q.text}': source/lang do not match the docs")
    else expectRows(q, ids, truth)
  }

  private def counted(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got rows, want $want")

  // ---- the layers ----

  /** Parses the whole corpus; the parsed row count gives the malformed
    * lines the reader dropped.
    */
  private def corpusScan(phase: String): Double =
    op("corpus_scan", "sources.corpus_json", phase, fork(corpusKey, guarded = false)(corpusDocs)) { s =>
      val n = corpus.filter(col("id").isNotNull && col("url").isNotNull &&
        col("title").isNotNull && col("text").isNotNull).count()
      s.count("rows_out", n)
      s.count("malformed_dropped", jsonLines - n)
      n
    } { n =>
      if (jsonLines - n == planted.size && n == base.size) None
      else Some(s"parsed $n of $jsonLines lines; ${planted.size} malformed planted")
    }

  private def searchCorpus(q: Query, phase: String): Unit =
    op("search_corpus", "search.search_corpus", phase, fork(corpusKey, guarded = true)(corpusDocs),
      q.kind) { s =>
      val df = Search.searchCorpus(spark, corpusDir, q.text, K)
      val rows = df.collect()
      s.count("rows_out", rows.length)
      if (tracer.on) s.count("files_read", filesRead(df))
      rows
    } { rows =>
      val got = rows.map(r => (r.getString(0), r.getString(1))).toSeq
      val docs = got.flatMap(g => byTitle.get(g._1).map(d => (g, d)))
      if (docs.size != got.size || docs.exists { case ((_, u), d) => u != d.url })
        Some(s"query '${q.text}': unknown or mismatched title/url in $got")
      else expectRows(q, docs.map(_._2.id), truth)
    }

  private def tokensLayer(key: String, docs: => DataFrame, phase: String): Unit =
    op("tokens", "search.tokens", phase, fork(key, guarded = false)(docs)) { s =>
      val n = Search.tokens(docs).count()
      s.count("rows_out", n)
      n
    }(n => counted("tokens", n, base.map(_.tokens.length.toLong).sum))

  private def queryPostingsLayer(q: Query, phase: String): Unit =
    op("query_postings", "search.query_postings", phase, fork(corpusKey, guarded = true)(corpusDocs),
      q.kind) { s =>
      val n = Search.queryPostings(corpusDocs, q.text).count()
      s.count("rows_out", n)
      n
    }(n => counted("query postings", n, q.terms.distinct.map(truth.df).sum))

  /** Search.buildIndex into a fresh dir; traced runs first time the
    * index's layers one by one over the same documents. The vocabulary
    * (and so postings and the build) consults `Spread.isTiny` on the
    * documents scan; tokens and doc-info do not.
    */
  private def build(dir: String, phase: String): Double = {
    if (tracer.on) {
      tokensLayer("documents", documents, phase)
      op("vocabulary", "search.vocabulary", phase, fork("documents", guarded = true)(documents)) { _ =>
        noop(Search.vocabulary(documents))
      }(_ => None)
      op("doc_info", "search.doc_info", phase, fork("documents", guarded = false)(documents)) { _ =>
        noop(Search.docInfo(documents))
      }(_ => None)
      op("postings", "search.postings", phase, fork("documents", guarded = true)(documents)) { _ =>
        noop(Search.postings(documents, Search.vocabulary(documents)))
      }(_ => None)
    }
    op("build", "search.build_index", phase, fork("documents", guarded = true)(documents)) { s =>
      Search.buildIndex(spark, docsDir, dir)
      s.count("output_bytes_on_disk", bytesUnder(dir))
    }(_ => None)
  }

  /** Serves queries from the index in `dir`, after checking its table
    * sizes against the ground truth.
    */
  private def useIndex(dir: String): Unit = harness("check") {
    counted("index vocabulary", spark.read.parquet(s"$dir/vocabulary").count(), truth.vocabSize)
      .orElse(counted("index postings", spark.read.parquet(s"$dir/postings").count(), truth.postingRows))
      .orElse(counted("index docinfo", spark.read.parquet(s"$dir/docinfo").count(), truth.nDocs))
      .foreach(p => fail(s"index $dir: $p"))
    indexDir = dir
    vocabIds = spark.read.parquet(s"$dir/vocabulary").select("word", "word_id")
      .as[(String, Long)].collect().toMap
  }

  private def indexed(q: Query, phase: String): Unit = {
    val buckets = indexedBuckets(q)
    op("indexed", "search.search_topk_indexed", phase, fork(s"$indexDir:$buckets", guarded = true)(
      spark.read.parquet(s"$indexDir/postings").filter(col("wb").isin(buckets: _*))), q.kind) { s =>
      val df = Search.searchTopKIndexed(spark, indexDir, q.text, K)
      val rows = df.collect()
      s.count("rows_out", rows.length)
      if (tracer.on) s.count("files_read", filesRead(df))
      rows
    }(rows => checkHits(q, rows, truth))
  }

  private def checkIncremental(): Option[String] = harness("check") {
    val post = BatchCommit.readCommitted(spark, s"$incDir/postings").get
    val info = BatchCommit.readCommitted(spark, s"$incDir/docinfo").get
    counted("incremental vocabulary", IncrementalIndex.vocabulary(spark, incDir).count(), incTruth.vocabSize)
      .orElse(counted("incremental postings", post.count(), incTruth.postingRows))
      .orElse(counted("incremental docinfo", info.count(), incTruth.nDocs))
  }

  /** Ingests the docs at parquet `path` as batch `batchId` of the
    * incremental index in `incDir`.
    */
  private def ingest(batchId: Int, docs: IndexedSeq[Doc], path: String, phase: String): Double = {
    harness("check")(incTruth.add(docs))
    val ms = op("ingest", "incremental.ingest_batch", phase,
      fork(path, guarded = false)(spark.read.parquet(path))) { s =>
      IncrementalIndex.ingestBatch(spark.read.parquet(path), incDir, batchId)
      s.count("rows_out", docs.size)
    }(_ => None)
    incState = s"b$batchId"
    ms
  }

  private def incremental(q: Query, phase: String): Unit = {
    val buckets = incrementalBuckets(q)
    op("incremental", "incremental.search_topk", phase, fork(s"inc:$incState:$buckets", guarded = false)(
      incrementalPostings.filter(col("wb").isin(buckets: _*))), q.kind) { s =>
      val df = IncrementalIndex.searchTopK(spark, incDir, q.text, K)
      val rows = df.collect()
      s.count("rows_out", rows.length)
      if (tracer.on) s.count("files_read", filesRead(df))
      rows
    }(rows => checkHits(q, rows, incTruth))
  }

  private def compact(phase: String): Unit = {
    op("compact", "incremental.compact", phase, fork(s"inc:$incState", guarded = false)(incrementalPostings)) { s =>
      IncrementalIndex.compact(spark, incDir)
      s.count("output_bytes_on_disk", bytesUnder(incDir))
    }(_ => checkIncremental())
    incState = "compacted"
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val all = Files.walk(src)
    try all.iterator().asScala.foreach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally all.close()
  }

  /** Starts a fresh incremental index in `dir` as a copy of the set-up
    * index in `template`, holding the base corpus as batch 0.
    */
  private def fromTemplate(template: String, dir: String): Unit = {
    harness("copy")(copyDir(template, dir))
    incDir = dir
    incState = "b0"
    harness("check") { incTruth = new Scorer; incTruth.add(base) }
  }

  /** One `build_ingest` cycle on a fresh copy of the set-up index:
    * `BatchesPerCycle` ingests each followed by `QueriesPerBatch` queries,
    * then compaction and `QueriesPerBatch` more.
    */
  private def ingestCycle(c: Int, template: String): Unit = {
    fromTemplate(template, s"$work/cycle$c")
    var j = 0
    var k = 0
    def step(f: => Unit): Unit = { alternate(c, k); f; k += 1 }
    def ask(): Unit = (0 until QueriesPerBatch).foreach { _ =>
      step(incremental(cycleQuery(c, j), "measure"))
      j += 1
    }
    (1 to BatchesPerCycle).foreach { b =>
      step(ingest(b, batchDocs(b - 1), batchPath(b), "measure"))
      ask()
    }
    step(compact("measure"))
    ask()
  }

  // ---- the run ----

  private def generate(): Unit = {
    val (lines, bytes) = Corpus.writeJson(corpusDir, base, scale.shards, planted)
    jsonLines = lines
    jsonBytes = bytes
    writeDocs(docsPath, base)
    Corpus.writeQueries(s"$work/queries.txt", queries)
    truth.add(base)
    base.foreach(d => byId(d.id) = d)
    if (workload == "build_ingest") batchDocs.zipWithIndex.foreach { case (docs, i) =>
      writeDocs(batchPath(i + 1), docs)
      docs.foreach(d => byId(d.id) = d)
    }
  }

  /** Sets the scan split size so the JSON corpus plans at least 4 splits
    * per core: a real dump is hundreds of 128 MB splits, and at the
    * default size a corpus under about 512 MB would take the single-task
    * path on 4 cores.
    */
  private def splitForCores(): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", math.max(4096L, jsonBytes / (4L * nproc)))
    spark.conf.set("spark.sql.files.openCostInBytes", 0L)
  }

  /** Runs measured cycles until `seconds` have passed and the last cycle
    * has ended; at least one. Traced runs run an even number.
    */
  private def loop(cycle: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val every = if (traced) 2 else 1
    var c = 0
    while (c == 0 || c % every != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(c)
      c += 1
    }
    record("measure_wall_s") = (System.nanoTime() - t0) / 1e9
    record("cycles") = c
    tracer.on = traced
  }

  /** Traced runs trace every other operation of a cycle, shifted by one
    * each cycle: over two cycles each operation is measured once traced
    * and once untraced, interleaved in time.
    */
  private def alternate(c: Int, k: Int): Unit = tracer.on = traced && (c + k) % 2 == 1

  private def sweep(): Unit = {
    val seen = tracer.names
    val q = queries.find(_.kind == "head+mid").getOrElse(queries.head)
    if (!seen("sources.corpus_json")) corpusScan("sweep")
    if (!seen("search.tokens")) tokensLayer(corpusKey, corpusDocs, "sweep")
    if (!seen("search.query_postings")) queryPostingsLayer(q, "sweep")
    if (!seen("search.search_corpus")) searchCorpus(q, "sweep")
    if (!seen("search.build_index")) { build(s"$work/sweep-index", "sweep"); useIndex(s"$work/sweep-index") }
    if (!seen("search.search_topk_indexed")) indexed(q, "sweep")
    if (!seen("incremental.ingest_batch")) {
      incDir = s"$work/sweep-inc"
      incTruth = new Scorer
      ingest(0, base, docsPath, "sweep")
      checkIncremental().foreach(p => fail(s"sweep ingest: $p"))
    }
    if (!seen("incremental.search_topk")) incremental(q, "sweep")
    if (!seen("incremental.compact")) compact("sweep")
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    generate()
    record("gen_s") = (System.nanoTime() - t0) / 1e9
    record("corpus") = Map("docs" -> base.size, "json_lines" -> jsonLines, "json_bytes" -> jsonBytes,
      "malformed_planted" -> planted.size, "shards" -> scale.shards, "vocab_words" -> gen.vocab.size)
    tracer.on = traced
    workload match {
      case "oneshot_scan" =>
        splitForCores()
        (0 until scale.setups).foreach(_ => setupSeconds += corpusScan("setup") / 1e3)
        (0 until scale.warmup).foreach(j => searchCorpus(warmupQuery(j), "warmup"))
        loop { c =>
          (0 until Gen.ShapeCycle).foreach { j =>
            val q = cycleQuery(c, j)
            alternate(c, j)
            if (tracer.on) {
              corpusScan("layers")
              tokensLayer(corpusKey, corpusDocs, "layers")
              queryPostingsLayer(q, "layers")
            }
            searchCorpus(q, "measure")
          }
        }
        val parts = ops.filter(_.kind == "search_corpus").map(_.fork.scanPartitions).distinct
        if (parts.exists(_ <= nproc))
          fail(s"corpus scan planned $parts splits; the workload needs more than $nproc")
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")

      case "indexed_serve" =>
        (0 until scale.setups).foreach { r =>
          setupSeconds += build(s"$work/index$r", "setup") / 1e3
        }
        useIndex(s"$work/index${scale.setups - 1}")
        record("index_bytes") = bytesUnder(indexDir)
        (0 until scale.warmup).foreach(j => indexed(warmupQuery(j), "warmup"))
        loop(c => (0 until Gen.ShapeCycle).foreach { j =>
          alternate(c, j)
          indexed(cycleQuery(c, j), "measure")
        })

      case "build_ingest" =>
        // set-up loads the base corpus into a fresh incremental index as
        // its batch 0; each measured cycle starts from a copy of the last
        // one, and the warm-up runs one short cycle on another
        (0 until scale.setups).foreach { r =>
          incDir = s"$work/inc$r"
          incTruth = new Scorer
          setupSeconds += ingest(0, base, docsPath, "setup") / 1e3
        }
        val template = incDir
        checkIncremental().foreach(p => fail(s"set-up ingest: $p"))
        fromTemplate(template, s"$work/warmup")
        ingest(1, batchDocs(0), batchPath(1), "warmup")
        incremental(warmupQuery(0), "warmup")
        compact("warmup")
        incremental(warmupQuery(1), "warmup")
        loop(ingestCycle(_, template))
        record("incremental_index_bytes") = bytesUnder(incDir)
    }
    if (traced) sweep()
  }

  // ---- results ----

  private def measured(kinds: Set[String]): Seq[Double] =
    ops.filter(o => o.phase == "measure" && o.ok && kinds(o.kind) && !o.traced).map(_.ms).toSeq

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** End-to-end metrics: name → (value, unit, samples). */
  def endToEnd(): Seq[(String, Double, String, Int)] = {
    val q = measured(QueryKinds)
    // each kind's operations at its median latency, so one slow call does
    // not move the rate
    val byKind = ops.filter(o => o.phase == "measure" && o.ok && !o.traced).groupBy(_.kind).values
    val n = byKind.map(_.size).sum
    val ms = byKind.map(os => os.size * median(os.map(_.ms).toSeq)).sum
    Seq(
      ("setup_s", median(setupSeconds.toSeq), "s", setupSeconds.size),
      ("query_p50_ms", median(q), "ms", q.size),
      ("ops_per_s", n * 1e3 / ms, "1/s", n),
      ("peak_rss_mb", peakRssMb, "MB", 1))
  }

  /** The workload's own figures under the names the design uses. */
  def detail(): Seq[(String, Double, String, Int)] = {
    def ms(kind: String) = measured(Set(kind))
    val builds = ops.filter(o => o.kind == "build" && o.phase == "setup" && o.ok).map(_.ms / 1e3).toSeq
    val indexBytes = record.get("index_bytes").map(_.toString.toDouble / jsonBytes)
    val attempted = ops.size
    val common = Seq(("failed_op_ratio", ops.count(!_.ok).toDouble / math.max(1, attempted), "ratio", attempted))
    val own = workload match {
      case "oneshot_scan" =>
        Seq(("oneshot_p50_s", median(ms("search_corpus")) / 1e3, "s", ms("search_corpus").size))
      case "indexed_serve" =>
        Seq(("indexed_p50_ms", median(ms("indexed")), "ms", ms("indexed").size),
          ("indexed_p90_ms", percentile(ms("indexed"), 0.9), "ms", ms("indexed").size),
          ("index_build_s", median(builds), "s", builds.size)) ++
          indexBytes.map(b => ("index_bytes_per_input_byte", b, "ratio", 1))
      case _ =>
        Seq(("initial_ingest_s", median(setupSeconds.toSeq), "s", setupSeconds.size),
          ("ingest_batch_p50_s", median(ms("ingest")) / 1e3, "s", ms("ingest").size),
          ("incremental_p50_ms", median(ms("incremental")), "ms", ms("incremental").size)) ++
          record.get("incremental_index_bytes").map(b =>
            ("incremental_index_bytes_per_input_byte", b.toString.toDouble / jsonBytes, "ratio", 1))
    }
    own ++ common
  }

  /** Each operation kind's fork: planned scan partitions and, for kinds
    * whose code path consults the small-input guard, how many of its
    * operations ran with `Spread.isTiny` true (None for the others).
    */
  def forks(): Map[String, Map[String, Any]] =
    ops.groupBy(_.kind).map { case (k, os) =>
      k -> Map("ops" -> os.size, "scan_partitions" -> os.map(_.fork.scanPartitions).distinct.sorted,
        "tiny_ops" -> Option.when(os.exists(_.fork.tiny.isDefined))(os.count(_.fork.tiny.contains(true))))
    }

  /** Traced operations' median latency minus untraced ones', per kind. */
  def tracingOverheadMs(): Map[String, Double] =
    ops.filter(o => o.phase == "measure" && o.ok).groupBy(_.kind).collect {
      case (k, os) if os.exists(_.traced) && os.exists(!_.traced) =>
        k -> (median(os.filter(_.traced).map(_.ms).toSeq) - median(os.filterNot(_.traced).map(_.ms).toSeq))
    }
}
