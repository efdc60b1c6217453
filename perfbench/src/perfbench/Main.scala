package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one timed phase, in this JVM.
  *
  * {{{
  * perfbench.Main --workload serve_mutating --seed 1 --seconds 10 --trace 0
  *   --cores 4 --work <scratch dir> --out <record dir> --result <file>
  *   --expected perfbench/expected/curate_batch.tsv [--record-expected <file>]
  * }}}
  *
  * Prints context, the workload's named metrics and every failure on
  * stdout, writes the full record (and, traced, the spans) under `--out`,
  * and the result object (run.py's last stdout line) to `--result`. */
object Main {
  /** End-to-end metrics (untraced run): name -> unit. The latency tail
    * stays in the report line: at 9-20 samples a run, its run-to-run spread
    * is wider than any bound a regression check could use. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "ops_per_s" -> "ops/s", "heap_mb" -> "MB")

  /** Per-layer metrics (traced run): name -> unit. Every workload reports
    * all of them; a layer the workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "Spark.jobs" -> "count", "Spark.stages" -> "count", "Spark.tasks" -> "count",
    "Spark.executor_run_ms" -> "ms", "Spark.executor_cpu_ms" -> "ms",
    "Spark.gc_ms" -> "ms", "Spark.sched_wait_ms" -> "ms",
    "Spark.busy_ratio" -> "ratio", "Spark.failed_tasks" -> "count",
    "Spark.scan_rows" -> "count", "Spark.scan_bytes" -> "bytes",
    "Spark.shuffle_write_bytes" -> "bytes",
    "Catalyst.plan_ms" -> "ms", "Catalyst.queries" -> "count",
    "Embedder.embed_ms" -> "ms",
    "IndexTable.resolve_ms" -> "ms", "IndexTable.delta_files" -> "count",
    "IndexTable.append_ms" -> "ms", "IndexTable.delete_ms" -> "ms",
    "IndexTable.compact_ms" -> "ms", "IndexTable.files_written" -> "count",
    "IndexTable.bytes_written" -> "bytes",
    "KnnSearch.exec_ms" -> "ms", "KnnSearch.rows_per_hit" -> "ratio",
    "KnnSearch.project_ms" -> "ms",
    "Rerank.kept_ratio" -> "ratio",
    "GraphAnn.walk_ms" -> "ms", "GraphAnn.walk_jobs" -> "count",
    "GraphAnn.build_s" -> "s", "GraftVectorStore.serving_state_s" -> "s",
    "PersistedBuild.build_s" -> "s", "PersistedBuild.builds" -> "count",
    "SparkEntry.dedup.pass_s" -> "s", "SparkEntry.text.pass_s" -> "s",
    "SparkEntry.quality.pass_s" -> "s",
    "Trace.overhead_ratio" -> "ratio")

  /** Spark runtime and Catalyst counters under every span named `root`
    * (a request or a pass), per such span. */
  def sparkLayers(c: SparkCounters, t: Tracer, root: String): Map[String, Double] = {
    val roots = t.all.filter(_.name == root)
    val n = math.max(1, roots.size).toDouble
    val wallMs = roots.map(_.durNs / 1e6).sum
    val spans = Some(t.subtree(root))
    def per(f: c.Acc => java.util.concurrent.atomic.AtomicLong): Double =
      c.sum(spans)(f).toDouble / n
    val cores = Runtime.getRuntime.availableProcessors
    val (planMs, queries) = c.catalyst(roots.map(s => (s.startMs, s.endMs)))
    Map(
      "Spark.jobs" -> per(_.jobs), "Spark.stages" -> per(_.stages),
      "Spark.tasks" -> per(_.tasks), "Spark.executor_run_ms" -> per(_.runMs),
      "Spark.executor_cpu_ms" -> per(_.cpuNs) / 1e6, "Spark.gc_ms" -> per(_.gcMs),
      "Spark.sched_wait_ms" -> per(_.schedWaitMs),
      "Spark.busy_ratio" -> (if (wallMs > 0) c.sum(spans)(_.runMs) / (wallMs * cores) else 0.0),
      "Spark.failed_tasks" -> per(_.failedTasks),
      "Spark.scan_rows" -> per(_.scanRows), "Spark.scan_bytes" -> per(_.scanBytes),
      "Spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes),
      "Catalyst.plan_ms" -> planMs / n, "Catalyst.queries" -> queries / n)
  }

  /** Heap in use after a full GC: the least of three rounds of GC and a
    * pause, which lets Spark's context cleaner drop the broadcast and
    * shuffle state the previous round's GC released. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  /** The fixed in-JVM CPU kernel of the `Bench` battery's host anchor
    * (xorshift, no Spark, no allocation), one timed call, in seconds: the
    * loop is compiled on stack replacement within its first milliseconds,
    * so a separate warm-up call would change little. Numbers from
    * different hosts or times are read against it. */
  def anchorS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) System.err.println("anchor fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** JSON text of maps (in their iteration order), sequences and scalars. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def metric(v: Double, unit: String): ListMap[String, Any] =
    ListMap("value" -> v, "unit" -> unit)

  /** The result object: correctness, operation counts, metrics. */
  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    json(ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> metric(v, u) }: _*)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cores = need("cores").toInt
    val work = need("work")
    val out = need("out")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.currentTimeMillis()
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases(name) = (now - mark) / 1e3
      mark = now
    }
    phases("jvm") = (mark - jvmStartMs) / 1e3

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the Bench battery's session conf, so the timed plans are the ones
      // the battery and the oracle run
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // keep Spark's own scratch inside the run's work dir
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep Spark's job/stage/SQL bookkeeping from growing with the number
      // of operations a run completes, so heap_mb shows the program's
      // resident state rather than how fast the host was
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark.sparkContext)
    val counters = if (traced) Some(new SparkCounters) else None
    counters.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    phase("session")
    val ctx = new Ctx(spark, seed, seconds, work, tracer, counters)
    val o = Workloads.run(workload, ctx, need("expected"), opt.get("record-expected"))
    phase("workload")
    val anchor = anchorS()
    phase("anchor")
    spark.stop()
    phase("stop")

    val recs = Seq(ctx.rec, ctx.recTraced)
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val failures = recs.flatMap(_.failures)
    val checks = recs.flatMap(_.checkFailures)
    val primary = o.latencyMs
    val correct = checks.isEmpty && primary.nonEmpty
    failures.foreach(f => println(s"perfbench failed ${f.kind} '${f.label}': ${f.error}"))
    checks.foreach(c => println(s"perfbench check failed: $c"))

    val e2e = ListMap(
      "setup_s" -> Stats.median(o.setupS),
      "latency_p50_ms" -> (if (primary.isEmpty) 0.0 else Stats.median(primary)),
      "ops_per_s" -> (if (o.wallS > 0) o.ops / o.wallS else 0.0),
      "heap_mb" -> ctx.heapMb)
    val report = o.report ++ ListMap(
      "setup_s" -> (e2e("setup_s"), "s"),
      "latency_p50_ms" -> (e2e("latency_p50_ms"), "ms"),
      "latency_tail_ms" -> (if (primary.isEmpty) 0.0 else Stats.quantile(primary, o.tailQ), "ms"),
      "ops_per_s" -> (e2e("ops_per_s"), "ops/s"),
      "heap_mb" -> (ctx.heapMb, "MB"),
      "failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))
    val context = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "anchor_s" -> anchor,
      "samples" -> ListMap(ctx.rec.kinds.map(k => k -> ctx.rec.samplesOf(k).size): _*),
      "traced_samples" -> ListMap(ctx.recTraced.kinds.map(k => k -> ctx.recTraced.samplesOf(k).size): _*),
      "latency_op" -> o.latencyOp, "latency_samples" -> primary.size, "tail_percentile" -> (o.tailQ * 100).round,
      "setup_reps_s" -> o.setupS, "timed_wall_s" -> o.wallS, "phases_s" -> phases) ++ o.extra
    println("perfbench context " + json(context))
    println("perfbench report " + json(report.map { case (k, (v, u)) => k -> metric(v, u) }))

    val metrics =
      if (!traced) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      else PerLayer.map { case (n, u) => (n, o.layers.getOrElse(n, 0.0), u) }
    val res = result(correct, attempted, failed, metrics)
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, s"$tag.json"), json(ListMap(
      "context" -> context,
      "report" -> report.map { case (k, (v, u)) => k -> metric(v, u) },
      "samples_ms" -> ListMap(ctx.rec.kinds.map(k => k -> ctx.rec.samplesOf(k)): _*),
      "failures" -> failures.map(f => ListMap("kind" -> f.kind, "label" -> f.label, "error" -> f.error)),
      "check_failures" -> checks,
      "layers" -> (if (traced) ListMap(PerLayer.map { case (n, u) =>
        n -> metric(o.layers.getOrElse(n, 0.0), u) }: _*) else ListMap.empty),
      "span_self_ms" -> tracer.selfMs,
      "span_total_ms" -> tracer.totalMs,
      "result" -> res)).getBytes("UTF-8"))
    if (traced) tracer.writeJsonLines(Paths.get(out, s"$tag-spans.jsonl"))
    Files.write(Paths.get(need("result")), res.getBytes("UTF-8"))
  }
}
