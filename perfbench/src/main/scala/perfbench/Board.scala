package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.queries._

/** The `board` workload: a fixed sample of the operator board
  * (`SparkEntry.allQs`) over the vendored sf0.001 tables. Each query is
  * timed as construction (which runs engine builds, index training and
  * driver collects where a query has them) plus the timed action, a
  * `noop` write. The action's row count is observed on that same write,
  * with no extra job, and checked against the recorded count.
  *
  * The sample takes every `Stride`-th query, in name order, of each of
  * the twelve query modules, so every module is measured. The first
  * `WarmupPasses` passes let class loading, code generation and the JIT
  * settle; their queries count as attempts but are not timed. Measured
  * passes then repeat until the measuring time is used, at least
  * `MinPasses`. Each query's time is its median over the measured
  * passes, and the pass figures are sums of those medians.
  */
object Board {

  val Modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> RelationalQueries.qs, "Window" -> WindowQueries.qs,
    "Date" -> DateQueries.qs, "Text" -> TextQueries.qs,
    "Finance" -> FinanceQueries.qs, "Dedup" -> DedupQueries.qs,
    "Similarity" -> SimilarityQueries.qs, "Multimodal" -> MultimodalQueries.qs,
    "Streaming" -> StreamingQueries.qs, "SqlSurface" -> SqlSurfaceQueries.qs,
    "OlapExtras" -> OlapExtrasQueries.qs, "Pipeline" -> PipelineQueries.qs)

  val Stride = 24
  val WarmupPasses = 1
  val MinPasses = 3
  val SetupRepeats = 3
  val Tables: Seq[String] = graft.Tables.all

  /** (module, query) pairs of the sample, in name order. */
  def sample: Seq[(String, Q)] =
    Modules.flatMap { case (m, qs) =>
      qs.sortBy(_.name).zipWithIndex.collect { case (q, i) if i % Stride == 0 => m -> q }
    }.sortBy(_._2.name)

  final case class Timing(construct: Double, action: Double) {
    def total: Double = construct + action
  }

  def run(ctx: Ctx, dataDir: String, expected: Map[String, Long]): Outcome = {
    val spark = ctx.spark
    val ops = new Ops
    val rows = sample
    // set-up: resolve every input table's schema
    val setups = (0 until SetupRepeats).map { i =>
      Run.timed(ctx.span("setup", s"inputs $i") {
        Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
      })._2
    }
    val observed = scala.collection.mutable.Map.empty[String, Long]

    /** One query: construct, then the observed noop write. */
    def once(name: String, q: Q): Option[Timing] = {
      val t = ops.attempt {
        val (df, c) = Run.timed(ctx.span("construct", name)(q.fn(spark, dataDir)))
        val obs = Observation(s"rows_$name")
        val (_, a) = Run.timed(ctx.span("action", name) {
          df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        })
        observed(name) = obs.get("rows").asInstanceOf[Long]
        Timing(c, a)
      }
      spark.catalog.clearCache() // no cached blocks leak into the next query
      t
    }

    val controls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def control(): Unit = if (ctx.traced) controls += Layers.control(ctx)
    def pass(kind: String, p: Int) = {
      val passStart = ctx.tracer.now
      val timings = ctx.span(kind, s"$kind $p") {
        rows.flatMap { case (_, q) => once(q.name, q).map(q.name -> _) }.toMap
      }
      val passEnd = ctx.tracer.now
      ((passEnd - passStart) / 1000, timings, passStart, passEnd)
    }
    val warmupS = (0 until WarmupPasses).map(pass("warmup", _)._1)
    control()
    Jvm.resetPeaks()
    val gc0 = Jvm.gcSeconds
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Map[String, Timing], Double, Double)]
    var extraS = 0.0
    val start = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - start) / 1e9 - extraS < ctx.seconds) {
      passes += pass("pass", passes.size)
      if (passes.size == 1 && ctx.traced) extraS += Run.timed(control())._2
    }
    val gcS = Jvm.gcSeconds - gc0
    val heapMb = Jvm.heapPeakMb
    control()

    val names = rows.map(_._2.name).toSet
    val mismatches = Stats.rowCountMismatches(expected.filter { case (k, _) => names(k) }, observed.toMap)
    mismatches.foreach(n => ops.gate(ok = false,
      s"$n: observed ${observed.get(n).fold("no")(_.toString)} rows, recorded ${expected.get(n).fold("none")(_.toString)}"))
    Trace.writeObserved(ctx, "board", observed.toMap)

    val setupS = ctx.sessionSeconds + Stats.median(setups)
    // each query's median over passes, summed over the sample
    def perQuery(f: Timing => Double) = rows.map { case (_, q) =>
      val ts = passes.flatMap(_._2.get(q.name)).toSeq
      if (ts.isEmpty) 0.0 else Stats.median(ts.map(f))
    }.sum
    val passS = perQuery(_.total)
    val writeS = perQuery(_.construct)
    val readS = perQuery(_.action)
    // every timed query run is one sample of the latency distribution
    val samples = passes.flatMap(_._2.values.map(_.total)).toSeq
    val tail = Stats.tailPercentile(samples.size)
    val p50 = if (samples.isEmpty) 0.0 else Stats.percentile(samples, 50)
    val tailS = tail.fold(0.0)(p => Stats.percentile(samples, p.toDouble))
    val notes = Seq(
      f"${rows.size} queries; warm-up passes ${warmupS.map(t => f"$t%.3f").mkString(", ")} s; " +
        f"measured passes ${passes.map(p => f"${p._1}%.3f").mkString(", ")} s",
      f"query p50 $p50%.3f s, " + tail.fold("no tail rank")(p => f"p$p $tailS%.3f s") +
        s" over ${samples.size} query runs")
    if (!ctx.traced) Outcome(ops, Metrics.endToEnd(setupS, passS, writeS, readS), notes)
    else {
      val jobs = ctx.listener.get.drained
      val spans = ctx.tracer.withJobs(jobs)
      val jobParent = spans.filter(_.kind == "job").map(s => s.parent).groupBy(identity).map { case (k, v) => k -> v.size }
      val moduleOf = rows.map { case (m, q) => q.name -> m }.toMap
      /** Per module, per pass: seconds in `kind` spans and jobs under them. */
      def perModule(kind: String): Map[String, (Double, Double)] = {
        val ofKind = spans.filter(s => s.kind == kind && moduleOf.contains(s.name))
        val passIds = spans.filter(_.kind == "pass").map(_.id)
        Board.Modules.map(_._1).map { m =>
          val perPass = passIds.map { pid =>
            val ss = ofKind.filter(s => s.parent == pid && moduleOf(s.name) == m)
            (ss.map(_.seconds).sum, ss.map(s => jobParent.getOrElse(s.id, 0)).sum.toDouble)
          }
          m -> (Stats.median(perPass.map(_._1)), Stats.median(perPass.map(_._2)))
        }.toMap
      }
      val construct = perModule("construct")
      val action = perModule("action")
      val queryMetrics = Modules.map(_._1).flatMap { m =>
        Seq(s"queries.$m.construct_s" -> construct(m)._1, s"queries.$m.action_s" -> action(m)._1,
          s"queries.$m.jobs" -> (construct(m)._2 + action(m)._2))
      } ++ Seq(
        "queries.p50_s" -> p50, "queries.tail_s" -> tailS, "queries.samples" -> samples.size.toDouble)
      // spark totals over the median pass
      val median = passes.sortBy(_._1).apply(passes.size / 2)
      val passJobs = JobListener.within(jobs, median._3, median._4)
      Trace.write(ctx, spans)
      Outcome(ops, Metrics.perLayer(Nil, queryMetrics, Layers.spark(ctx, passJobs, median._1),
        gcS, heapMb, Stats.median(controls.toSeq), passS, spans.size), notes)
    }
  }
}
