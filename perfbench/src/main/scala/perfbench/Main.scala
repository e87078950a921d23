package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in one JVM and writes its
  * result as one JSON object to `--result`. Human-readable figures (every
  * metric by name, with unit and sample count) go to stdout. `perfbench/run.py`
  * builds the classpath, launches this, checks that no store root is left
  * behind and prints the JSON object as its last line.
  *
  * {{{
  * perfbench.Main --workload meter_batch_stream --seed 1 --seconds 10 --trace 0
  *   --work <dir> --result <file> [--spans <file>] [--launch-ms <epoch ms>]
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("meter_batch_stream", "corpus_rtbf")

  /** Every span any workload records, in the order of the layer map. */
  val AllSpans: Seq[String] = Seq("gen_bronze", "mart_billing", "mart_grid", "land", "rebuild",
    "engine", "land_bronze", "land_posting", "land_dedup", "land_vec", "land_ivfpq",
    "probe_posting", "probe_vec", "erase", "fsck")

  /** Sizes for a 4-core host, so that a full check (22 runs of each
    * workload) fits its time budget. */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "meter_batch_stream" =>
      new MeterBatchStream(new MeterBatch(ctx, 1000, 192, 50), new MeterStream(ctx, 1000, 12, 3))
    case "corpus_rtbf" =>
      new CorpusRtbfLoad(ctx, 150, 15, 3, 30)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Workloads.mkString(", ")})")
  }

  def session(workDir: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `w`: set-up, the closed loop, the end-of-run gates. */
  def run(ctx: Ctx, w: Workload): Unit =
    try {
      ctx.log("session ready")
      w.setup()
      ctx.log("set-up done")
      ctx.markTimedStart()
      // at least one op, then until the run's seconds are spent (a traced
      // run also until every alternating op kind ran traced and untraced)
      while (w.step() && (!ctx.deadlinePassed || ctx.overheadPending)) {}
      ctx.verifyGate(w.verify())
    } finally w.close()

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit =
    try bench(args)
    catch {
      case e: Throwable =>
        // a crash prints no result; exiting runs Spark's shutdown hooks
        e.printStackTrace()
        sys.exit(1)
    }

  private def bench(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val traced = opt("trace") == "1"
    val workDir = opt("work")
    val launchMs = opts.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    require(Workloads.contains(name), s"unknown workload '$name'")

    val calib = scala.collection.mutable.ArrayBuffer(HostCalib.sample(), HostCalib.sample())
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1000.0}%8.2f s  JVM up")
    val spark = session(workDir, traced)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, workDir, opt("seed").toLong, opt("seconds").toDouble, tracer, launchMs)
    val w = workload(name, ctx)
    try run(ctx, w)
    finally {
      tracer.foreach(_.setActive(false))
      ctx.roots.foreach(r => deleteTree(java.nio.file.Paths.get(r)))
    }
    calib += HostCalib.sample()
    val left = ctx.roots.filter(r => java.nio.file.Files.exists(java.nio.file.Paths.get(r)))
    if (left.nonEmpty) {
      ctx.failed += 1
      ctx.failures += s"store roots left behind: ${left.mkString(", ")}"
    }

    // human-readable report: every figure by name, unit and sample count
    val calibMs = Stats.median(calib.toSeq) * 1000
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def show(f: Figure) = lines += f"${f.name}%-24s ${f.value}%14.3f ${f.unit}%-6s n=${f.n}"
    lines += s"workload $name seed ${ctx.seed} trace ${if (traced) 1 else 0}"
    show(Figure("setup_s", "s", ctx.setupS, 1))
    w.report.foreach(show)
    show(Figure("failed_frac", "ratio", ctx.failed.toDouble / math.max(1, ctx.attempted), ctx.attempted))
    show(Figure("host_calib_ms", "ms", calibMs, calib.size))
    lines += f"host_calib_spread        ${calib.max / calib.min}%14.3f max/min"
    ctx.failures.foreach(f => lines += s"FAILED $f")

    val metrics: Seq[(String, String, Double)] =
      if (!traced) (Figure("setup_s", "s", ctx.setupS, 1) +: w.endToEnd).map(f => (f.name, f.unit, f.value))
      else {
        val figs = tracer.get.figures(AllSpans)
        // 0 when the run had no untraced op to compare against
        val (overheadS, overheadShare) = ctx.tracingOverhead.getOrElse((0.0, 0.0))
        opts.get("spans").foreach(p => tracer.get.writeSpans(java.nio.file.Paths.get(p)))
        lines += f"trace_overhead_ms        ${overheadS * 1000}%14.3f ms"
        AllSpans.flatMap { n =>
          val f = figs(n)
          Seq((s"$n.s", "s", f.s), (s"$n.jobs", "count", f.jobs), (s"$n.tasks", "count", f.tasks),
            (s"$n.exec_cpu_s", "s", f.execCpuS), (s"$n.shuffle_mb", "MB", f.shuffleMb),
            (s"$n.driver_only_s", "s", f.driverOnlyS), (s"$n.fs_meta_ops", "count", f.fsMetaOps))
        } ++ Seq(("trace.overhead_ms", "ms", overheadS * 1000),
          ("trace.overhead_pct", "%", 100 * overheadShare), ("host.calib_ms", "ms", calibMs))
      }
    println(lines.mkString("\n"))
    val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    val correct = ctx.correct && metrics.forall { case (_, _, v) => !v.isNaN }
    val json = s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("result")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
