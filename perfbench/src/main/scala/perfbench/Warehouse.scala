package perfbench

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.engine.{BuildReport, Engine, UnknownRefException}
import graft.finance.FinanceWarehouse

/** The `warehouse` workload: the paper's dbt build of the finance DAG.
  *
  * One pass is a full build of the seeded initial load, then one
  * incremental batch build that advances the calendar, each followed by
  * the dashboard read set, run `Dashboard.Rounds` times. Every build and
  * read starts after the previous one ends (closed loop, one driver
  * thread, `build(threads = 1)`). The pass runs in a fresh JVM, as a
  * scheduled `dbt build` does, so the full build includes class loading
  * and JIT warm-up.
  */
object Warehouse {

  val Size: Landing.Size = Landing.DefaultSize.copy(batches = 1)
  val SetupRepeats = 3
  val Phases: Seq[String] = Seq("full", "batch")

  def models(b: Landing.Batch): Seq[graft.engine.Model] =
    FinanceWarehouse.models(FinanceWarehouse.Vars(
      dateStart = Landing.CalendarStart.toString, dateEnd = b.dateEnd.toString))

  /** Model names, in DAG order, for the per-node metrics. */
  def modelNames: Seq[String] = models(Landing.generate(0, Size).batches.head).map(_.name)

  /** One build of the pass and what the trace saw of it. */
  final case class BuildRun(phase: String, report: Option[BuildReport], buildS: Double,
      readS: Double, start: Double, end: Double, layers: Option[Layers.EngineLayers])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ops = new Ops
    val setups = (0 until SetupRepeats).map { i =>
      Run.timed(ctx.span("setup", s"landing $i") {
        val l = Landing.generate(ctx.seed, Size)
        Landing.write(spark, l, s"${ctx.workDir}/landing_$i")
        l
      })
    }
    val landing = setups.head._1
    ops.gate(setups.map(_._1.digest).distinct.size == 1,
      "the same seed generated different landing data")
    val landingRoot = s"${ctx.workDir}/landing_0"
    val warehouseDir = s"${ctx.workDir}/warehouse"
    val account = landing.batches.head.subs.head.account

    val controls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def control(): Unit = if (ctx.traced) controls += Layers.control(ctx)
    control()
    Jvm.resetPeaks()
    val gc0 = Jvm.gcSeconds
    val passStart = ctx.tracer.now
    var traceOnlyS = 0.0 // trace-only work between builds, left out of pass_s
    val builds = landing.batches.zip(Phases).map { case (b, phase) =>
      val engine = new Engine(spark, warehouseDir, Landing.read(spark, landingRoot, b.index), models(b))
      val start = ctx.tracer.now
      val (report, buildS) = Run.timed(ctx.span("build", phase) {
        ops.attempt(engine.build(java.sql.Timestamp.from(b.ingestedAt), threads = 1))
      })
      val end = ctx.tracer.now
      report.foreach(r => countNodes(ops, r))
      val readS = Dashboard.reads(ctx, ops, engine, Landing.Zone(landing.batches.take(b.index + 1)), account)
      val layers = if (!ctx.traced) None else {
        val (l, s) = Run.timed {
          val l = Layers.engineAfterBuild(ctx, ops, engine, models(b), phase)
          if (phase == "full") control()
          l
        }
        traceOnlyS += s
        Some(l)
      }
      BuildRun(phase, report, buildS, readS, start, end, layers)
    }
    val passS = (ctx.tracer.now - passStart) / 1000 - traceOnlyS
    val gcS = Jvm.gcSeconds - gc0
    val heapMb = Jvm.heapPeakMb
    control()

    val writeS = builds.map(_.buildS).sum
    val readS = builds.map(_.readS).sum
    val setupS = ctx.sessionSeconds + Stats.median(setups.map(_._2))
    val notes = Seq(
      f"landing: ${landing.landingRows} rows in ${landing.batches.size} loads, digest ${landing.digest.take(16)}",
      builds.map(r => f"${r.phase} build ${r.buildS}%.3f s, reads ${r.readS}%.3f s").mkString("; "))
    if (!ctx.traced) Outcome(ops, Metrics.endToEnd(setupS, passS, writeS, readS), notes)
    else {
      val jobs = ctx.listener.get.drained
      val spans = ctx.tracer.withJobs(jobs)
      val perBuild = builds.flatMap { r =>
        val buildJobs = JobListener.within(jobs, r.start, r.end)
        val materialize = buildJobs.count(_.group.exists(_.startsWith("graft.")))
        val nodeS = r.report.map(_.results.map(n => n.name -> n.elapsedMs / 1000.0).toMap).getOrElse(Map.empty)
        val l = r.layers.get
        modelNames.map(m => s"engine.node.$m.${r.phase}_s" -> nodeS.getOrElse(m, 0.0)) ++ Seq(
          s"engine.${r.phase}_build_s" -> r.buildS,
          s"engine.materialize_jobs.${r.phase}" -> materialize.toDouble,
          s"engine.other_jobs.${r.phase}" -> (buildJobs.size - materialize).toDouble,
          s"engine.checks_s.${r.phase}" -> l.checksS,
          s"engine.checks_jobs.${r.phase}" -> l.checksJobs.toDouble)
      }
      val (bytes, files) = Run.treeSize(warehouseDir)
      val batch = builds.last
      val batchLanded = Run.treeSize(Landing.batchDir(landingRoot, landing.batches.last.index))._1.toDouble
      val engineMetrics = perBuild ++ Seq(
        "engine.mart_read_s" -> Stats.median(builds.map(_.readS)),
        "engine.ref_s" -> builds.flatMap(_.layers).map(_.refS).sum,
        "engine.ref_jobs" -> builds.flatMap(_.layers).map(_.refJobs.toDouble).sum,
        "storage.warehouse_bytes" -> bytes.toDouble, "storage.files" -> files.toDouble,
        "storage.write_amp" -> JobListener.within(jobs, batch.start, batch.end).map(_.output).sum / batchLanded)
      Trace.write(ctx, spans)
      val opJobs = Layers.jobsUnder(spans, jobs, Set("build", "read"))
      Outcome(ops, Metrics.perLayer(engineMetrics, Nil, Layers.spark(ctx, opJobs, passS),
        gcS, heapMb, Stats.median(controls.toSeq), passS, spans.size), notes)
    }
  }

  /** Counts every node of a build as one operation; a node that is not
    * `ok` is a failure. */
  private def countNodes(ops: Ops, r: BuildReport): Unit = r.results.foreach { n =>
    ops.attempted += 1
    if (n.status != "ok")
      ops.fail(s"node ${n.name} ${n.status}: ${n.error.getOrElse(n.failedChecks.mkString(","))}")
  }
}

/** The dashboard read set that runs after every build, through
  * `Engine.ref`, with its answers checked against the landing data. */
object Dashboard {
  /** How often the read set runs after each build: a dashboard is read
    * repeatedly, and one round of ten sub-second reads is too noisy. */
  val Rounds = 3

  /** Runs the read set `Rounds` times; returns the sum over the five
    * reads of each read's median time. Failed reads are counted in
    * `ops` and not timed. */
  def reads(ctx: Ctx, ops: Ops, e: Engine, landing: Landing.Zone, account: String): Double =
    (0 until Rounds).map(_ => round(ctx, ops, e, landing, account)).transpose
      .map(_.flatten).filter(_.nonEmpty).map(Stats.median).sum

  /** One round of the five reads, each checked against the landing data. */
  private def round(ctx: Ctx, ops: Ops, e: Engine, landing: Landing.Zone,
      account: String): Seq[Option[Double]] = {
    val month = landing.finalMonth
    val (cents, active) = landing.endOfMonth(month)
    val monthLit = lit(java.sql.Date.valueOf(month))
    def read[T](name: String)(body: => T)(check: T => Unit): Option[Double] =
      ops.attempt(Run.timed(ctx.span("read", name)(body))).map { case (v, s) => check(v); s }
    def mrrMatches(mrr: Double) = math.abs(mrr * 100 - cents) < 1.0

    Seq(
      read("mart scan")(e.ref("mart_mrr_waterfall_month").collect()) { rows =>
        val months = Dashboard.months(landing.batches.last.dateEnd)
        ops.gate(rows.length == months, s"mart has ${rows.length} months, expected $months")
        rows.find(_.getAs[java.sql.Date]("month_start_date").toLocalDate == month) match {
          case Some(r) =>
            ops.gate(mrrMatches(r.getAs[Double]("end_mrr")),
              s"mart end_mrr ${r.getAs[Double]("end_mrr")} for $month, landing gives ${cents / 100.0}")
            ops.gate(r.getAs[Long]("active_accounts") == active,
              s"mart active_accounts ${r.getAs[Long]("active_accounts")} for $month, landing gives $active")
          case None => ops.gate(ok = false, s"mart has no row for $month")
        }
      },
      read("account history")(e.ref("fct_account_month").filter(col("account_id") === account)
        .orderBy("month_start_date").collect()) { rows =>
        ops.gate(rows.nonEmpty, s"no account-month history for $account")
      },
      read("movement counts")(e.ref("fct_account_month")
        .filter(col("month_start_date") > lit(java.sql.Date.valueOf(month.minusMonths(12))))
        .groupBy("movement_type").count().collect()) { rows =>
        ops.gate(rows.map(_.getLong(1)).sum > 0, "no movements in the last 12 months")
      },
      read("mrr by plan tier")(e.ref("fct_subscription_month")
        .filter(col("month_start_date") === monthLit)
        .join(e.ref("dim_subscription").select("subscription_key", "plan_tier"), "subscription_key")
        .groupBy("plan_tier").agg(sum("mrr_amount")).collect()) { rows =>
        val total = rows.map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1)).sum
        ops.gate(mrrMatches(total), s"MRR by plan tier sums to $total, landing gives ${cents / 100.0}")
      },
      read("accounts by industry")(e.ref("dim_account").filter(col("is_current"))
        .groupBy("industry").count().collect()) { rows =>
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = landing.currentAccounts.groupBy(_.industry).map { case (k, v) => k -> v.size.toLong }
        ops.gate(got == want, s"current accounts by industry $got, landing gives $want")
      })
  }

  /** Months of the calendar a batch's build runs with. */
  def months(end: LocalDate): Int =
    (end.getYear - Landing.CalendarStart.getYear) * 12 + end.getMonthValue - Landing.CalendarStart.getMonthValue + 1
}

/** Trace-only measurements made between operations, outside the timed
  * pass: check re-evaluation, model refs, and the control plan. */
object Layers {
  final case class EngineLayers(checksS: Double, checksJobs: Int, refS: Double, refJobs: Int)

  private def jobCount(ctx: Ctx)(body: => Unit): (Int, Double) = {
    val before = ctx.listener.get.drained.size
    val (_, s) = Run.timed(body)
    (ctx.listener.get.drained.size - before, s)
  }

  /** Re-evaluates every declared check through
    * `Check.violationsWithRefs(...).isEmpty`, and refs every model. */
  def engineAfterBuild(ctx: Ctx, ops: Ops, e: Engine, models: Seq[graft.engine.Model],
      phase: String): EngineLayers = {
    val (checkJobs, checkS) = jobCount(ctx) {
      ctx.span("check", s"checks $phase") {
        models.foreach(m => m.checks.foreach { c =>
          try ops.gate(c.violationsWithRefs(e.ref(m.name), e.ref).isEmpty,
            s"check ${m.name}.${c.name} has violations after the $phase build")
          catch { case _: UnknownRefException => () } // undeclared model: the engine skips it too
        })
      }
    }
    val (refJobs, refS) = jobCount(ctx) {
      ctx.span("ref", s"refs $phase")(models.foreach(m => e.ref(m.name)))
    }
    EngineLayers(checkS, checkJobs, refS, refJobs)
  }

  /** One timing of the fixed-work control plan. */
  def control(ctx: Ctx): Double =
    Run.timed(ctx.span("control", "control plan") {
      graft.Bench.controlPlan(ctx.spark).write.format("noop").mode("overwrite").save()
    })._2

  /** Jobs whose parent span, or an ancestor of it, has one of `kinds`. */
  def jobsUnder(spans: Seq[Span], jobs: Seq[JobStats], kinds: Set[String]): Seq[JobStats] = {
    val byId = spans.map(s => s.id -> s).toMap
    def under(id: Int): Boolean = byId.get(id).exists(s => kinds(s.kind) || under(s.parent))
    val parentOf = spans.filter(_.kind == "job").map(s => (s.id - 100000) -> s.parent).toMap
    jobs.filter(j => parentOf.get(j.jobId).exists(under))
  }

  /** Spark-layer totals over the jobs of the timed operations. */
  def spark(ctx: Ctx, jobs: Seq[JobStats], wallS: Double): Seq[(String, Double)] = {
    val runS = jobs.map(_.runMs).sum / 1000.0
    val cores = ctx.spark.sparkContext.defaultParallelism
    Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.executor_run_s" -> runS,
      "spark.busy_ratio" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.output_bytes" -> jobs.map(_.output).sum.toDouble,
      "spark.result_bytes" -> jobs.map(_.result).sum.toDouble)
  }
}
