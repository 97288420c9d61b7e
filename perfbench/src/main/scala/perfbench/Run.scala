package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, the seed, the measuring
  * time, a private work directory, and (traced runs) the tracer and the
  * benchmark's own Spark listener. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    workDir: String, tracer: Tracer, listener: Option[JobListener],
    sessionSeconds: Double) {
  def traced: Boolean = tracer.enabled
  def span[T](kind: String, name: String)(body: => T): T = tracer.span(kind, name)(body)
}

/** Attempted and failed operations (one node, one read or one query),
  * the first failure's class and message, and every correctness-gate
  * violation. Only non-fatal errors are caught: a fatal one ends the
  * run. A failed operation is counted, never timed. */
final class Ops {
  var attempted = 0
  var failed = 0
  var firstFailure: Option[String] = None
  val violations: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempt[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(s"${e.getClass.getName}: ${e.getMessage}"); None }
  }

  def fail(what: String): Unit = {
    failed += 1
    if (firstFailure.isEmpty) firstFailure = Some(what.take(300))
  }

  def gate(ok: Boolean, what: => String): Unit = if (!ok) violations += what

  def correct: Boolean = failed == 0 && violations.isEmpty
}

/** A workload's result: end-to-end metrics (untraced runs) or per-layer
  * metrics (traced runs), plus the accounting the result line carries. */
final case class Outcome(ops: Ops, metrics: Seq[(String, Double, String)],
    notes: Seq[String])

object Run {
  /** Wall seconds of `body`, together with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes and file count of every regular file under `dir`. */
  def treeSize(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.filter(f => java.nio.file.Files.isRegularFile(f)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.map(f => java.nio.file.Files.size(f)).sum, files.size.toLong)
      } finally s.close()
    }
  }
}
