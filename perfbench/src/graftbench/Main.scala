package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run: a closed loop with one client over one workload.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --out <dir> [--size full|tiny] [--commit <id>] [--source-digest <hex>]
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with no listeners or
  * wrappers installed. `--trace 1` runs pairs of the same op untraced
  * and traced (spans, backend wrapper, Spark listeners), the first of
  * each pair alternating, and reports the per-layer metrics per traced
  * op plus the tracing overhead. Either way
  * the last stdout line is the JSON result; the full result (run header,
  * samples, self times) goes to `<out>/<workload>-s<seed>-t<trace>.json`
  * and traced spans to `<out>/<workload>-s<seed>.spans.jsonl`. The exit
  * code is 1 when an output check failed. */
object Main {
  val Workloads = Seq("slope_fit", "slope_cv_serve", "pipeline")
  /** The tail percentile needs this many samples beyond it. */
  val TailSamples = 10
  /** Fewest ops a run measures (untraced runs) or traces (traced runs). */
  val MinOps = 3
  val MinTracedOps = 2
  val SetupReps = 3

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcTotals(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
      beans.map(_.getCollectionCount).filter(_ > 0).sum)
  }

  private def loadAvg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim)
      .getOrElse("unavailable")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile that still has [[TailSamples]] samples beyond
    * it: (value, percentile, samples beyond). With too few samples it
    * falls back to the maximum and says how many lie beyond (0). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val k = s.length - TailSamples - 1
    if (k < 0) (s.last, 100.0, 0) else (s(k), 100.0 * (k + 1) / s.length, TailSamples)
  }

  private final case class Opts(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, out: Path, tiny: Boolean,
                                commit: String, sourceDigest: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("out")), kv.get("size").contains("tiny"),
      kv.getOrElse("commit", "unknown"), kv.getOrElse("source-digest", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    Files.createDirectories(o.out)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("spark-warehouse").toString)
      // the same codegen cache size graft.Bench uses: eviction would
      // make ops measure Janino instead of the operators
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val ctx = new Ctx(spark, o.seed, o.tiny, tracer)
    def make(): Workload = o.workload match {
      case "slope_fit" => new SlopeFitWorkload(ctx)
      case "slope_cv_serve" => new CvServeWorkload(ctx)
      case "pipeline" => new PipelineWorkload(ctx)
    }

    // set-up: generate, persist, materialize, first op. Repeated (from
    // a fresh workload each time) so its median is steady; the first
    // repetition also pays JIT and codegen (setup.cold_s). Traced runs
    // repeat it too, so their ops start as warm as the untraced ones.
    val setupTimes = ArrayBuffer.empty[Double]
    var w: Workload = null
    for (_ <- 0 until SetupReps) {
      if (w != null) w.teardown()
      val t0 = System.nanoTime()
      w = make()
      w.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    // a collection requested while a JNI critical section is open can be
    // skipped, so collect a few times and keep the smallest live heap
    val retainedHeapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    def attempt(f: => Option[String]): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try f catch { case e: Exception => Some(e.toString) }
      val dt = (System.nanoTime() - t0) / 1e9
      r.foreach(failures += _)
      dt
    }
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // closed loop, one client; keep going past --seconds (up to 3x)
    // until the median has its samples
    def more(n: Int, min: Int) = (elapsed < o.seconds || n < min) && elapsed < 3 * o.seconds

    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var equivalence = Seq.empty[(String, Boolean)]
    var selfTimes = Map.empty[String, Double]

    // process CPU of each untraced op: every thread of the JVM, so the
    // driver, the executors and the JIT compiler
    val cpuPerOp = ArrayBuffer.empty[Double]
    if (!o.trace) {
      while (more(untraced.length, MinOps)) {
        val cpu0 = processCpuNs()
        untraced += attempt(w.op())
        cpuPerOp += (processCpuNs() - cpu0) / 1e9
      }
      val wall = elapsed
      metrics("op_s_p50") = (median(untraced.toSeq), "s")
      metrics("rows_per_s") = (w.rowsPerOp * untraced.length / wall, "1/s")
      metrics("cpu_s_per_op") = (median(cpuPerOp.toSeq), "s")
      metrics("retained_heap_mb") = (retainedHeapMb, "MB")
      metrics("setup_s") = (sessionS + median(setupTimes.toSeq), "s")
    } else {
      val sc = spark.sparkContext
      val counters = new SparkCounters
      equivalence = w.equivalence()
      equivalence.foreach { case (name, ok) => if (!ok) failures += s"equivalence: $name" }
      ctx.counters.values.foreach(_.reset())
      var cpuNs, wallNs, compileNs = 0L
      var gcS = 0.0
      var gcN = 0L
      // the listeners are installed for the traced op only, after the
      // bus has delivered every earlier event
      def tracedOp(): Unit = {
        BenchBus.drain(sc)
        sc.addSparkListener(counters)
        spark.listenerManager.register(counters)
        tracer.op = traced.length
        val (gc0, gcn0) = gcTotals()
        val cpu0 = processCpuNs(); val wall0 = System.nanoTime()
        val compile0 = CodeGenerator.compileTime
        traced += attempt(tracer.span("op")(w.tracedOp(wrap = true)))
        BenchBus.drain(sc)
        compileNs += CodeGenerator.compileTime - compile0
        cpuNs += processCpuNs() - cpu0; wallNs += System.nanoTime() - wall0
        val (gc1, gcn1) = gcTotals()
        gcS += gc1 - gc0; gcN += gcn1 - gcn0
        tracer.op = -1
        sc.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
      }
      // the later op of a pair runs on warmer code, so the order
      // alternates, over an even number of pairs
      while (more(traced.length, MinTracedOps) ||
        (traced.length % 2 == 1 && elapsed < 3 * o.seconds)) {
        if (traced.length % 2 == 0) {
          untraced += attempt(w.tracedOp(wrap = false)); tracedOp()
        } else {
          tracedOp(); untraced += attempt(w.tracedOp(wrap = false))
        }
      }

      val ops = traced.length.toDouble
      val spans = tracer.all
      selfTimes = tracer.selfSeconds().map { case (k, v) => k -> v / ops }
      val dur = spans.groupBy(_.name).map { case (k, ss) =>
        k -> ss.map(s => s.endNs - s.startNs).sum / 1e9 / ops }
      def d(k: String) = dur.getOrElse(k, 0.0)
      def t(k: String) = ctx.totals.getOrElse(k, 0.0)
      val local = ctx.counter("local_backend")
      val dist = ctx.counter("dist_backend")
      def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
      val m = Seq(
        "slope.prep_s" -> (d("slope.prep"), "s"),
        "slope.steps" -> (t("slope.steps") / ops, "count"),
        "slope.passes" -> (t("slope.passes") / ops, "count"),
        "slope.active_mean" -> (t("slope.active_mean") / ops, "count"),
        "solver.self_s" -> (selfTimes.getOrElse("slope.solve", 0.0), "s"),
        "local_backend.pass_calls" -> (local.calls.get / ops, "count"),
        "local_backend.busy_s" -> (local.busyNs.get / 1e9 / ops, "s"),
        "local_backend.ns_per_row_pass" ->
          (ratio(local.busyNs.get, local.rowPasses.get), "ns"),
        "dist_backend.pass_calls" -> (dist.calls.get / ops, "count"),
        "dist_backend.ms_per_pass" -> (ratio(dist.busyNs.get / 1e6, dist.calls.get), "ms"),
        "spark.jobs_per_pass" -> (ratio(counters.jobs, dist.calls.get), "ratio"),
        "spark.jobs" -> (counters.jobs / ops, "count"),
        "spark.stages" -> (counters.stages / ops, "count"),
        "spark.tasks" -> (counters.tasks / ops, "count"),
        "spark.job_floor_ms" -> (median(counters.jobFloorsMs.toSeq), "ms"),
        "spark.task_cpu_s" -> (counters.taskCpuNs / 1e9 / ops, "s"),
        "spark.task_run_s" -> (counters.taskRunMs / 1e3 / ops, "s"),
        "spark.one_task_stage_s" -> (counters.oneTaskStageMs / 1e3 / ops, "s"),
        "spark.shuffle_read_bytes" -> (counters.shuffleRead / ops, "bytes"),
        "spark.shuffle_write_bytes" -> (counters.shuffleWrite / ops, "bytes"),
        "spark.spill_bytes" -> (counters.spill / ops, "bytes"),
        "spark.result_bytes" -> (counters.resultBytes / ops, "bytes"),
        "spark.peak_exec_mem_bytes" -> (counters.peakExecMem.toDouble, "bytes"),
        "spark.planning_s" -> (counters.planningNs / 1e9 / ops, "s"),
        "spark.codegen_compile_s" -> (compileNs / 1e9 / ops, "s"),
        "cv.cells" -> (t("cv.cells") / ops, "count"),
        "cv.cpu_util" -> (ratio(t("cv.cpu_ns"), t("cv.wall_ns") * nproc), "ratio"),
        "serve.predict_s" -> (d("serve.predict"), "s"),
        "serve.score_s" -> (d("serve.score"), "s"),
        "quality.s" -> (d("quality"), "s"),
        "quality.docs_kept" -> (t("quality.docs_kept") / ops, "count"),
        "dedup.exact_s" -> (d("dedup.exact"), "s"),
        "dedup.exact_removed" -> (t("dedup.exact_removed") / ops, "count"),
        "dedup.minhash_s" -> (d("dedup.minhash"), "s"),
        "dedup.near_dup_recall" -> (t("dedup.near_dup_recall") / ops, "ratio"),
        "dedup.near_dup_precision" -> (t("dedup.near_dup_precision") / ops, "ratio"),
        "pack.s" -> (d("pack"), "s"),
        "pack.sequences" -> (t("pack.sequences") / ops, "count"),
        "pack.fill_ratio" -> (t("pack.fill_ratio") / ops, "ratio"),
        "jvm.gc_s" -> (gcS / ops, "s"),
        "jvm.gc_count" -> (gcN / ops, "count"),
        "jvm.cpu_util" -> (cpuNs.toDouble / (wallNs * nproc), "ratio"),
        "setup.cold_s" -> (sessionS + setupTimes.head, "s"),
        "op_s_tail" -> (tail(untraced.toSeq)._1, "s"),
        "trace.op_s_p50" -> (median(traced.toSeq), "s"),
        "trace.overhead_ratio" -> (median(traced.toSeq) / median(untraced.toSeq), "ratio"))
      m.foreach { case (k, v) => metrics(k) = v }
      writeSpans(o.out.resolve(s"${o.workload}-s${o.seed}.spans.jsonl"), spans, loopStart)
    }

    val loadEnd = loadAvg()
    val correct = failures.isEmpty
    val (tailV, tailPct, tailBeyond) = tail(untraced.toSeq)
    val failedRatio = failures.length.toDouble / math.max(1, attempted)
    val result = Json.obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failures.length,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    val header = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "size" -> (if (o.tiny) "tiny" else "full"),
      "nproc" -> nproc, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version, "commit" -> o.commit,
      "source_digest" -> o.sourceDigest,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd)
    val detail = Json.obj(
      "header" -> header,
      "result" -> result,
      "failed_ratio" -> failedRatio,
      "failures" -> failures.toSeq,
      "equivalence" -> Json.obj(equivalence: _*),
      "op_s_tail" -> tailV,
      "op_s_tail_percentile" -> tailPct,
      "op_s_tail_samples_beyond" -> tailBeyond,
      "op_samples" -> untraced.length,
      "process_cpu_s_per_op" -> cpuPerOp.toSeq,
      "setup_session_s" -> sessionS,
      "setup_reps_s" -> setupTimes.toSeq,
      "untraced_op_s" -> untraced.toSeq,
      "traced_op_s" -> traced.toSeq,
      "self_s_per_op" -> Json.obj(selfTimes.toSeq.sortBy(_._1): _*))
    Files.write(o.out.resolve(s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}.json"),
      detail.s.getBytes(UTF_8))

    w.teardown()
    spark.stop()
    println(s"workload ${o.workload} seed ${o.seed}: ${untraced.length} untraced ops" +
      (if (o.trace) s", ${traced.length} traced ops" else ""))
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-30s $v%.6g $u") }
    // reported, not gated: the tail percentile moves with the sample
    // count, and a ratio that is 0 on a healthy run has no relative bound
    if (!o.trace) println(f"  ${"op_s_tail"}%-30s $tailV%.6g s " +
      f"(p$tailPct%.1f, $tailBeyond of ${untraced.length} samples beyond)")
    println(f"  ${"failed_ratio"}%-30s $failedRatio%.6g ratio")
    failures.distinct.foreach(f => println(s"  FAILED: $f"))
    println(result)
    System.exit(if (correct) 0 else 1)
  }

  private def writeSpans(path: Path, spans: Seq[Span], originNs: Long): Unit = {
    val lines = spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9).s)
    Files.write(path, lines.asJava, UTF_8)
  }
}

/** Minimal JSON writer over Scala values; `Raw` is already rendered. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ": " + render(v) }.mkString("{", ", ", "}"))
}
