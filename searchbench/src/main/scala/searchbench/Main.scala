package searchbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Search-engine benchmark entry point.
  *
  * {{{
  * Main --workload <oneshot_scan|indexed_serve|build_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--records <dir>]
  *      [--scale full|tiny] [--commit <id>]
  * }}}
  *
  * Prints one run-record line, then as its last line the result object
  * {"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
  * `--trace 0`, per-span metrics with `--trace 1`. Exits 1 when any
  * operation failed or answered wrong.
  */
object Main {

  /** Per-span fields reported as per-layer metrics, with their units. */
  val SpanFields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "idle_ms" -> "ms", "shuffle_write_bytes" -> "bytes")

  /** Span-specific counts: span → (field, unit). */
  val SpanCounts: Seq[(String, String, String)] = Seq(
    ("sources.corpus_json", "input_bytes", "bytes"),
    ("sources.corpus_json", "scan_partitions", "count"),
    ("sources.corpus_json", "malformed_dropped", "count"),
    ("search.search_corpus", "scan_partitions", "count"),
    ("search.search_corpus", "tiny", "ratio"),
    ("search.search_corpus", "input_bytes", "bytes"),
    ("search.search_corpus", "rows_examined_per_result", "ratio"),
    ("search.search_topk_indexed", "stages", "count"),
    ("search.search_topk_indexed", "input_bytes", "bytes"),
    ("search.search_topk_indexed", "files_read", "count"),
    ("search.search_topk_indexed", "scan_partitions", "count"),
    ("search.search_topk_indexed", "tiny", "ratio"),
    ("search.search_topk_indexed", "rows_examined_per_result", "ratio"),
    ("search.build_index", "output_bytes", "bytes"),
    ("search.build_index", "scan_partitions", "count"),
    ("search.build_index", "tiny", "ratio"),
    ("incremental.ingest_batch", "output_bytes", "bytes"),
    ("incremental.search_topk", "input_bytes", "bytes"),
    ("incremental.search_topk", "files_read", "count"),
    ("incremental.search_topk", "rows_examined_per_result", "ratio"),
    ("incremental.compact", "output_bytes", "bytes"))

  val Spans: Seq[String] = Seq(
    "sources.corpus_json", "search.tokens", "search.query_postings", "search.search_corpus",
    "search.search_topk_indexed", "search.vocabulary", "search.doc_info", "search.postings",
    "search.build_index", "incremental.ingest_batch", "incremental.search_topk",
    "incremental.compact")

  /** Every per-layer metric: (name, span, field, unit). */
  val PerLayer: Seq[(String, String, String, String)] =
    Spans.flatMap(s => SpanFields.map { case (f, u) => (s"$s.$f", s, f, u) }) ++
      SpanCounts.map { case (s, f, u) => (s"$s.$f", s, f, u) }

  private def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("searchbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    if (!Bench.Workloads.contains(workload)) {
      System.err.println(s"unknown workload $workload; one of ${Bench.Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val scale = if (opts.get("scale").contains("tiny")) Scale.tiny else Scale.full

    val loadBefore = loadavg()
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, workload, seed, seconds, traced, work, scale)
    bench.record("session_s") = sessionS
    bench.record("bench_init_s") = (System.nanoTime() - t0) / 1e9 - sessionS
    try bench.run()
    catch { case e: Exception => bench.failures += s"run aborted: $e"; e.printStackTrace() }
    bench.record("run_s") = (System.nanoTime() - t0) / 1e9
    val spans = if (traced) bench.tracer.spans() else Nil
    val attempted = math.max(1, bench.ops.size)
    val correct = bench.failures.isEmpty
    // a failure outside any operation (an aborted run, a mis-sized scan)
    // still counts as one failed operation
    val failed = math.min(attempted, math.max(bench.ops.count(!_.ok), if (correct) 0 else 1))
    val e2e = bench.endToEnd()
    val detail = bench.detail()
    val overhead = bench.tracingOverheadMs()
    spark.stop()

    val bySpan = spans.groupBy(_.name)
    val perLayer = PerLayer.flatMap { case (name, span, field, unit) =>
      val xs = bySpan.getOrElse(span, Nil).flatMap(_.fields.get(field))
      if (xs.isEmpty) None else Some((name, Bench.median(xs), unit, xs.size))
    }
    val metrics = if (traced) perLayer else e2e
    def asMap(ms: Seq[(String, Double, String, Int)]) =
      ms.map { case (n, v, u, c) => n -> Map("value" -> v, "unit" -> u, "samples" -> c) }.toMap
    val runRecord = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "scale" -> opts.getOrElse("scale", "full"), "nproc" -> bench.nproc,
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "end_to_end" -> asMap(e2e), "workload_metrics" -> asMap(detail),
      "tracing_overhead_ms" -> overhead, "forks" -> bench.forks(),
      "setup_s" -> bench.setupSeconds, "harness_s" -> bench.harnessSeconds,
      "failures" -> bench.failures) ++ bench.record
    println(json.writeValueAsString(Map("run_record" -> runRecord)))
    opts.get("records").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      val stem = s"$dir/$workload-seed$seed-trace${if (traced) 1 else 0}"
      val ops = bench.ops.map(o => Map("kind" -> o.kind, "phase" -> o.phase, "shape" -> o.shape,
        "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows, "scan_partitions" -> o.fork.scanPartitions,
        "tiny" -> o.fork.tiny, "traced" -> o.traced))
      Files.write(Paths.get(s"$stem.json"), json.writeValueAsString(runRecord + ("ops" -> ops)).getBytes(UTF_8))
      if (traced) Files.write(Paths.get(s"$stem-spans.json"),
        json.writeValueAsString(spans.map(s => Map("name" -> s.name) ++ s.fields)).getBytes(UTF_8))
    }
    println(json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u, _) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
