package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM entry point (launched by run.py).
 *
 *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *   --launch-ns <epoch ns the JVM was launched at> --work <dir> --reports <dir>
 *   [--commit <id>] [--selfcheck]
 *
 * An untraced run (--trace 0) sets the named workload up several times,
 * warms it up once, then runs closed-loop operations (one caller) for
 * `--seconds` and prints the end-to-end metrics. A traced run (--trace 1)
 * runs every workload with spans around the calls into the program's
 * layers, so that each run reports every per-layer metric. The last
 * stdout line is the result object; the full report lands in --reports.
 */
object Main {
  val SetupReps = 3
  /** Stop starting new operations this long after launch. */
  val DeadlineS = 140.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      launchNs: Long, work: String, reports: String, commit: String, selfcheck: Boolean)

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var selfcheck = false
    var i = 0
    while (i < a.length) {
      if (a(i) == "--selfcheck") { selfcheck = true; i += 1 }
      else { require(i + 1 < a.length && a(i).startsWith("--"), s"bad argument ${a(i)}"); m(a(i).drop(2)) = a(i + 1); i += 2 }
    }
    Args(m.getOrElse("workload", "span_pipeline"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("launch-ns", nowNs.toString).toLong, m("work"), m("reports"),
      m.getOrElse("commit", "unknown"), selfcheck)
  }

  def nowNs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(s"$work/local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(s"$work/checkpoints").getAbsolutePath)
    graft.sources.Storage.pinBucketedScans(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(args.trace || Workloads.Names.contains(args.workload) || args.selfcheck,
      s"unknown workload '${args.workload}' (one of ${Workloads.Names.mkString(", ")})")
    new File(args.reports).mkdirs()
    val spark = session(args.work)
    val jvmSessionS = (nowNs - args.launchNs) / 1e9
    val code = try {
      if (args.selfcheck) SelfCheck.run(spark, args.seed, args.work)
      else {
        val (result, report) =
          if (args.trace) tracedRun(spark, args) else untracedRun(spark, args, jvmSessionS)
        val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
        write(s"${args.reports}/$tag.json", Json.render(report))
        println(Json.render(report))
        println(Json.render(result))
        0
      }
    } finally spark.stop()
    System.exit(code)
  }

  def write(path: String, s: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }

  def machine(spark: SparkSession, args: Args): Map[String, Any] = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "commit" -> args.commit)

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(
      Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def pastDeadline(args: Args): Boolean = (nowNs - args.launchNs) / 1e9 > DeadlineS

  /** The end-to-end run of one workload. */
  def untracedRun(spark: SparkSession, args: Args, jvmSessionS: Double)
      : (Map[String, Any], Map[String, Any]) = {
    val w = Workloads.make(args.workload, spark, args.seed)
    // warm-up first, so that no setup repetition pays the JVM's cold start
    val (warm, warmS) = time(Workloads.warmup(w.name, spark, args.seed, s"${args.work}/warmup"))
    val repS = (1 to SetupReps).map(i => time(w.setup(s"${args.work}/${w.name}-$i"))._2)
    val setupS = jvmSessionS + Stats.median(repS) + warmS
    System.err.println(f"perfbench: session $jvmSessionS%.1fs, setups ${repS.mkString(",")}, " +
      f"warm-up $warmS%.1fs")
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val minOps = 2 * w.cycle
    val t0 = System.nanoTime()
    while (ops.size < minOps ||
        ((System.nanoTime() - t0) / 1e9 < args.seconds && !pastDeadline(args)))
      ops += w.op(Tracer.off(spark))
    System.err.println(f"perfbench: ${ops.size} operations in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val facts = w.facts
    val extra = w.report(ops.toSeq)
    w.close()
    val all = warm ++ ops
    val failures = all.flatMap(_.failures)
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val latency = ops.map(o => o.parts.get("probe_s").fold(o.seconds)(_ + o.parts("absorb_s"))).toSeq
    val metrics = collection.immutable.ListMap(
      "setup_s" -> (setupS, "s"),
      "docs_per_s" -> (ops.map(_.docs).sum / ops.map(_.seconds).sum, "docs/s"),
      "op_p50_s" -> (Stats.median(latency), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    val result = Json.obj("correct" -> failures.isEmpty, "attempted" -> all.size,
      "failed" -> all.count(_.failures.nonEmpty),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })
    val report = Json.obj("workload" -> w.name, "seed" -> args.seed, "trace" -> 0,
      "seconds" -> args.seconds, "loop" -> "closed, 1 client",
      "metrics" -> (Json.obj(
        "setup_s" -> Json.obj("value" -> setupS, "unit" -> "s", "jvm_session_s" -> jvmSessionS,
          "reps" -> Stats.summary(repS), "warmup_s" -> warmS),
        "docs_per_s" -> Json.obj("value" -> metrics("docs_per_s")._1, "unit" -> "docs/s"),
        "op_s" -> (Stats.summary(latency) ++ Map("unit" -> "s")),
        "peak_rss_mb" -> Json.obj("value" -> metrics("peak_rss_mb")._1, "unit" -> "MB"),
        "failed_ratio" -> Json.obj("value" -> all.count(_.failures.nonEmpty).toDouble / all.size,
          "unit" -> "ratio")) ++ extra),
      "failures" -> failures, "inputs" -> facts, "machine" -> machine(spark, args))
    (result, report)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
    if (ce > cs) total += ce - cs
    total
  }

  /** The traced run: every workload, so every per-layer metric is measured. */
  def tracedRun(spark: SparkSession, args: Args): (Map[String, Any], Map[String, Any]) = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val perWorkload = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def count(rs: Seq[OpResult]): Unit = {
      attempted += rs.size
      failed += rs.count(_.failures.nonEmpty)
      failures ++= rs.flatMap(_.failures)
    }
    Workloads.Names.foreach { name =>
      val (warm, warmS) = time(Workloads.warmup(name, spark, args.seed, s"${args.work}/$name-warmup"))
      count(warm)
      val w = Workloads.make(name, spark, args.seed)
      val setupS = time(w.setup(s"${args.work}/$name-trace"))._2
      val reference = (1 to w.cycle).map(_ => w.op(Tracer.off(spark)))
      count(reference)
      val untracedWall = reference.map(_.seconds).sum
      System.err.println(f"perfbench: $name warm-up $warmS%.1fs, setup $setupS%.1fs, " +
        f"untraced cycle $untracedWall%.1fs")
      val tracer = new Tracer(spark, name, enabled = true)
      val probe = new SparkProbe(spark, tracer)
      probe.install()
      val gc0 = gcMs
      val cg0 = codegenMs
      val traced = (1 to w.cycle).map(_ => w.op(tracer))
      count(traced)
      val gcS = (gcMs - gc0) / 1e3
      val codegenS = (codegenMs - cg0) / 1e3
      val tracedWall = traced.map(_.seconds).sum
      val top = tracer.spans.filter(_.parent < 0).toSeq
      val totals = tracer.spans.map(s => s -> probe.totals(s)).toSeq
      top.groupBy(_.name).toSeq.sortBy(_._2.head.id).foreach { case (n, ss) =>
        layer(s"$n.self_s") = ss.map(tracer.selfSeconds).sum
      }
      val jobMs = totals.map { case (s, t) => covered(t.jobIntervals.toSeq, s.startMs, s.endMs) }.sum
      val spanMs = totals.map(_._1).map(s => s.endMs - s.startMs).sum
      def sum(f: SpanSpark => Long) = totals.map(x => f(x._2)).sum
      layer ++= Seq(
        s"$name.spark.exec_cpu_s" -> sum(_.cpuNs) / 1e9,
        s"$name.spark.task_parallelism" -> sum(_.runMs).toDouble / math.max(1L, jobMs * nproc),
        s"$name.spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes).toDouble,
        s"$name.spark.plan_s" -> sum(_.planMs) / 1e3,
        s"$name.spark.driver_only_s" -> (spanMs - jobMs) / 1e3,
        s"$name.spark.codegen_compile_s" -> codegenS,
        s"$name.spark.gc_s" -> gcS,
        s"$name.spark.jobs" -> sum(_.jobs.toLong).toDouble,
        s"$name.spark.tasks" -> sum(_.tasks).toDouble,
        s"$name.trace_overhead_ratio" -> tracedWall / untracedWall,
        s"$name.trace_coverage_ratio" -> top.map(_.seconds).sum / tracedWall)
      layer ++= w.layerMetrics(probe)
      probe.remove()
      System.err.println(f"perfbench: $name traced cycle $tracedWall%.1fs")
      if (w.kernels.nonEmpty) {
        val input = w.kernelInput().localCheckpoint(true)
        w.kernels.foreach { case (k, f) =>
          def pass() = time(f(input).write.format("noop").mode("overwrite").save())._2
          pass()
          layer(s"expressions.$k.self_s") = Stats.median(Seq(pass(), pass()))
        }
      }
      writeSpans(s"${args.reports}/$name-seed${args.seed}-spans.jsonl", tracer, probe)
      // report-only: zero in local mode (no remote fetches) and at these
      // input sizes (no spills)
      perWorkload(name) = Json.obj("traced_wall_s" -> tracedWall, "untraced_wall_s" -> untracedWall,
        "shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3, "spill_bytes" -> sum(_.spillBytes),
        "inputs" -> w.facts)
      w.close()
    }
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val table = layerTable(layer)
    write(s"${args.reports}/layers-seed${args.seed}.txt", table)
    System.err.print(table)
    val result = Json.obj("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> layer.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> unitOf(k)) })
    val report = Json.obj("trace" -> 1, "seed" -> args.seed, "coverage_tolerance" -> 0.85,
      "workloads" -> perWorkload, "per_layer" -> result("metrics"), "failures" -> failures,
      "machine" -> machine(spark, args))
    (result, report)
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("bytes") => "bytes"
    case "jobs" | "tasks" | "files" => "count"
    case "files_per_table" => "files"
    case _ => "ratio"
  }

  private def layerTable(layer: collection.Map[String, Double]): String =
    layer.map { case (k, v) => f"$k%-64s ${v}%14.6f ${unitOf(k)}" }.mkString("", "\n", "\n")

  private def writeSpans(path: String, tracer: Tracer, probe: SparkProbe): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try tracer.spans.foreach { s =>
      val t = probe.totals(s)
      w.println(Json.render(Json.obj("run" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> tracer.selfSeconds(s), "jobs" -> t.jobs,
        "tasks" -> t.tasks, "task_run_s" -> t.runMs / 1e3, "plan_s" -> t.planMs / 1e3,
        "bytes_written" -> t.bytesWritten, "shuffle_write_bytes" -> t.shuffleWriteBytes)))
    } finally w.close()
  }
}
