package searchbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark events of one span's job group, summed as they arrive. */
private final class Usage {
  var jobs, jobsEnded, stages, tasks = 0L
  var cpuNs, shuffleWrite, spill, inBytes, inRecords, outBytes, outRecords = 0L
  val busy = mutable.ArrayBuffer[(Long, Long)]() // task [launch, finish] in epoch ms
}

/** An open span: the caller adds counts (rows_out, scan_partitions, …). */
final class OpenSpan(val name: String) {
  val counts = mutable.LinkedHashMap[String, Double]()
  def count(key: String, v: Double): Unit = counts(key) = v
}

/** A closed span: the layer's call, its wall time and its Spark shape. */
final case class Span(name: String, fields: Map[String, Double])

/** Spans around the benchmark's calls into the program. Each span tags the
  * Spark jobs it causes with its own job group (`setJobGroup`), and one
  * listener attributes job, stage and task events to the group. Spans are
  * kept in memory; `spans` waits for the listener to see every job end.
  * With `on` false a span only runs its body.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val Prefix = "searchbench:"
  private val usage = new ConcurrentHashMap[String, Usage]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val closed = mutable.ArrayBuffer[(String, String, Long, Long, OpenSpan)]()
  private var seq = 0

  private def use(g: String)(f: Usage => Unit): Unit = {
    val u = usage.computeIfAbsent(g, _ => new Usage)
    u.synchronized(f(u))
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(Prefix)) {
        jobGroup.put(e.jobId, g)
        e.stageIds.foreach(stageGroup.put(_, g))
        use(g)(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach(use(_)(_.jobsEnded += 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach(use(_)(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach(use(_) { u =>
        u.tasks += 1
        u.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          u.cpuNs += m.executorCpuTime
          u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          u.inBytes += m.inputMetrics.bytesRead
          u.inRecords += m.inputMetrics.recordsRead
          u.outBytes += m.outputMetrics.bytesWritten
          u.outRecords += m.outputMetrics.recordsWritten
        }
      })
  })

  def span[T](open: OpenSpan)(body: OpenSpan => T): T = {
    if (!on) return body(open)
    seq += 1
    val group = s"$Prefix${open.name}#$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, open.name)
    val t0 = System.currentTimeMillis()
    try body(open)
    finally {
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      closed += ((open.name, group, t0, t1, open))
    }
  }

  def names: Set[String] = closed.map(_._1).toSet

  /** Milliseconds of [t0, t1] covered by no task interval. */
  private def idle(t0: Long, t1: Long, busy: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    busy.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }

  /** Every closed span, once the listener has seen all of their jobs end
    * (waits at most `timeoutMs`).
    */
  def spans(timeoutMs: Long = 20000): Seq[Span] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = closed.exists { case (_, g, _, _, _) =>
      Option(usage.get(g)).exists(u => u.synchronized(u.jobsEnded < u.jobs))
    }
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    closed.toSeq.map { case (name, g, t0, t1, open) =>
      val u = Option(usage.get(g)).getOrElse(new Usage)
      u.synchronized {
        val rowsOut = open.counts.get("rows_out")
        Span(name, Map(
          "wall_ms" -> (t1 - t0).toDouble,
          "jobs" -> u.jobs.toDouble,
          "stages" -> u.stages.toDouble,
          "tasks" -> u.tasks.toDouble,
          "cpu_s" -> u.cpuNs / 1e9,
          "idle_ms" -> idle(t0, t1, u.busy.toSeq).toDouble,
          "shuffle_write_bytes" -> u.shuffleWrite.toDouble,
          "spill_bytes" -> u.spill.toDouble,
          "input_bytes" -> u.inBytes.toDouble,
          "input_records" -> u.inRecords.toDouble,
          "output_bytes" -> u.outBytes.toDouble,
          "output_records" -> u.outRecords.toDouble) ++
          rowsOut.filter(_ > 0).map(r => "rows_examined_per_result" -> u.inRecords / r) ++
          open.counts)
      }
    }
  }
}
