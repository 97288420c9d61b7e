package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <warehouse|board> --seed <n> --seconds <s> --trace <0|1>
  *  --work-dir <dir> --data-dir <dir> --expected-rows <file>
  *  [--untraced-pass-s <s>]`.
  *
  * Prints a few human-readable lines, then, as the last line, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. Exits 1
  * when the correctness gate fails. Traced runs also write the span file
  * `spans.json` into the work directory.
  */
object Main {
  val Workloads: Seq[String] = Seq("warehouse", "board")

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val workDir = arg("work-dir")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      // the same session settings as the program's own Bench and Verify
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = if (traced) {
      val l = new JobListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, seed, seconds, workDir, new Tracer(traced), listener, sessionS)
    val out = try workload match {
      case "warehouse" => Warehouse.run(ctx)
      case "board" => Board.run(ctx, arg("data-dir"), readExpected(arg("expected-rows")))
    } finally spark.stop()

    val ops = out.ops
    val metrics = out.metrics.map {
      case ("ops.fail_ratio", _, u) => ("ops.fail_ratio", Stats.failRatio(ops.failed, ops.attempted), u)
      case ("trace.overhead_s", _, u) =>
        // traced minus untraced pass time; 0 until an untraced run is known
        val traced = out.metrics.collectFirst { case ("trace.pass_s", v, _) => v }.getOrElse(0.0)
        ("trace.overhead_s", args.get("untraced-pass-s").fold(0.0)(traced - _.toDouble), u)
      case m => m
    }
    out.notes.foreach(n => println(s"[$workload] $n"))
    println(f"[$workload] fail_ratio ${Stats.failRatio(ops.failed, ops.attempted)}%.4f (${ops.failed} of ${ops.attempted} operations)" +
      ops.firstFailure.fold("")(f => s"; first failure: $f"))
    ops.violations.take(20).foreach(v => println(s"[$workload] gate: $v"))
    println(resultLine(ops.correct, ops.attempted, ops.failed, metrics))
    if (!ops.correct) sys.exit(1)
  }

  def readExpected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t")
      k -> v.toLong
    }.toMap
    finally src.close()
  }

  def resultLine(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metrics.M]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n":{"value":${BigDecimal(v).bigDecimal.toPlainString},"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}
