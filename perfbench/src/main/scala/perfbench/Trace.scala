package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own code around a call into a
  * layer (setup, build, ref, check, construct, action, read), or one
  * Spark job seen by [[JobListener]]. Times are epoch milliseconds with
  * sub-millisecond fractions. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000
}

/** Spans of one run, kept in memory. When disabled, [[span]] only runs
  * its body, so untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Double)] = Nil
  private var nextId = 1

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, kind, name, now) :: stack
      try body
      finally {
        val (_, k, n, start) = stack.head
        stack = stack.tail
        done += Span(id, stack.headOption.map(_._1).getOrElse(0), n, k, start, now)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Jobs as spans, each parented by the innermost benchmark span whose
    * interval holds the job's start. */
  def withJobs(jobs: Seq[JobStats]): Seq[Span] = {
    val own = spans
    val jobSpans = jobs.map { j =>
      val parent = own.filter(s => math.floor(s.start) <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0)
      Span(100000 + j.jobId, parent, j.group.getOrElse(s"job ${j.jobId}"), "job", j.start, j.end)
    }
    own ++ jobSpans
  }
}

object Tracer {
  /** Span duration minus the part of it its children cover. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0.0, s.seconds - covered / 1000)
    }.toMap
  }

  private def union(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  def json(all: Seq[Span]): String = {
    val self = selfSeconds(all)
    val bySelf = all.filter(_.kind != "job").groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => self(s.id)).sum
    }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = all.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_s":${self(s.id)}%.6f}"""
    }
    val selfJson = bySelf.toSeq.sortBy(_._1).map { case (k, v) => f"${str(k)}:$v%.6f" }
    spans.mkString("{\"self_s_by_kind\":{" + selfJson.mkString(",") + "},\"spans\":[\n", ",\n", "\n]}\n")
  }
}

/** Totals of one Spark job, from its tasks. */
final case class JobStats(jobId: Int, group: Option[String], start: Double,
    var end: Double = 0, var tasks: Int = 0, var runMs: Long = 0,
    var shuffleWrite: Long = 0, var spill: Long = 0, var output: Long = 0,
    var result: Long = 0)

/** The benchmark's own Spark listener: per-job task counts, executor
  * run time and bytes. Read it only after [[drained]]. */
final class JobListener(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobStats(e.jobId, group, e.time.toDouble)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.output += m.outputMetrics.bytesWritten
      j.result += m.resultSize
    }
  }

  def drained: Seq[JobStats] = {
    org.apache.spark.perfbenchaccess.ListenerBus.drain(sc)
    synchronized(jobs.values.map(_.copy()).toSeq)
  }
}

object JobListener {
  /** Jobs that started inside [from, to]. */
  def within(jobs: Seq[JobStats], from: Double, to: Double): Seq[JobStats] =
    jobs.filter(j => j.start >= math.floor(from) && j.start <= to)
}

/** Garbage-collection time and peak heap of this JVM. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
}

/** Files a run leaves in its work directory. */
object Trace {
  def write(ctx: Ctx, spans: Seq[Span]): Unit =
    writeFile(s"${ctx.workDir}/spans.json", Tracer.json(spans))

  def writeObserved(ctx: Ctx, workload: String, rows: Map[String, Long]): Unit =
    writeFile(s"${ctx.workDir}/observed_rows_$workload.tsv",
      rows.toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }.mkString)

  private def writeFile(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
}
