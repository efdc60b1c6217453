package perfbench

import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftVectorStore
import graft.functions.Embedder
import graft.operators.{IndexTable, KnnSearch, Rerank}

/** Everything a workload gets from the harness. In a traced run the timed
  * phase is split in two halves: the first runs untraced (the reference for
  * the trace overhead), the second with spans and Spark counters on. */
final class Ctx(val spark: SparkSession, seed: Long, val seconds: Double,
                val work: String, val tracer: Tracer,
                val counters: Option[SparkCounters]) {
  val rng = new SplittableRandom(seed)
  def traced: Boolean = counters.nonEmpty
  val rec = new Recorder
  /** Recorder of the traced half (traced runs only). */
  val recTraced = new Recorder
  /** Recorder the running phase charges. */
  var current: Recorder = rec
  /** Nanoseconds the benchmark spent checking outputs inside a timed phase;
    * subtracted from that phase's wall time. */
  var checkNs = 0L

  def checking[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  /** Run `step(i)` for i = 0, 1, ... in whole cycles of `unit` steps until
    * the phase budget is spent (at least one cycle), so every run ends on
    * the same point of the request mix. Returns (steps, wall seconds
    * without check time). */
  private def loop(budgetS: Double, unit: Int, from: Int)(step: Int => Unit): (Int, Double) = {
    val c0 = checkNs
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || i % unit != 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      step(from + i)
      i += 1
    }
    (i, ((System.nanoTime() - t0) - (checkNs - c0)) / 1e9)
  }

  /** The timed phase, in cycles of `unit` steps: untraced for the whole
    * budget, or untraced then traced halves in a traced run. Step indices
    * continue across the halves, so the seeded request sequence does too.
    * Returns the untraced half's (steps, wall) and, traced, the traced
    * half's. */
  def timed(unit: Int)(step: Int => Unit): ((Int, Double), Option[(Int, Double)]) = {
    val out =
      if (!traced) (loop(seconds, unit, 0)(step), None)
      else {
        val a = loop(seconds / 2, unit, 0)(step)
        current = recTraced
        tracer.enabled = true
        val b = try loop(seconds / 2, unit, a._1)(step)
          finally { tracer.enabled = false; current = rec }
        counters.foreach(_.drain())
        (a, Some(b))
      }
    heapMb = Main.heapAfterGcMb()
    out
  }

  /** Driver heap in use after a full GC at the end of the timed phase. */
  var heapMb = 0.0
}

/** A workload's result, rendered by [[Main]]: set-up seconds per
  * repetition, the latency samples (ms) of its headline operation, and what
  * that operation is. */
final case class Outcome(
    setupS: Seq[Double],
    latencyOp: String,
    latencyMs: Seq[Double],
    tailQ: Double,
    wallS: Double,
    ops: Long,
    report: ListMap[String, (Double, String)],
    layers: Map[String, Double],
    extra: ListMap[String, Any])

object Workloads {
  val Alias = "tenant"
  val NDocs = 5000
  val PoolSize = 16
  val Fanout = 50
  val TopN = 10

  val Names: Seq[String] = Seq("serve_mutating", "curate_batch")

  /** `expected`/`recordTo`: curate_batch's recorded gate outputs (read, or
    * rewritten from the cold pass). */
  def run(name: String, ctx: Ctx, expected: String, recordTo: Option[String]): Outcome =
    name match {
      case "serve_mutating" => serveMutating(ctx)
      case "curate_batch" => Curate.run(ctx, expected, recordTo)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  private def quantileOr(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)

  /** Ingest the corpus into a fresh plain-layout store and compact it,
    * `reps` times, each into its own path; every store but the last is
    * dropped. Returns the last store, its path and each rep's seconds. */
  private def plainStore(ctx: Ctx, docs: Seq[(String, String)], reps: Int)
      : (GraftVectorStore, String, Seq[Double]) = {
    val frame = Corpus.docFrame(ctx.spark, docs)
    var last: (GraftVectorStore, String) = null
    val secs = (1 to reps).map { r =>
      val path = s"${ctx.work}/store_plain_$r"
      val store = new GraftVectorStore(ctx.spark, path)
      val t0 = System.nanoTime()
      store.addDocuments(frame, Alias)
      store.compactIndex(Alias)
      val s = (System.nanoTime() - t0) / 1e9
      if (last != null) last._1.dropIndex()
      last = (store, path)
      s
    }
    (last._1, last._2, secs)
  }

  /** The seeded prompt pool: first 12 words of `PoolSize` distinct corpus
    * documents, drawn Zipf so some prompts repeat. */
  private def promptPool(ctx: Ctx, docs: IndexedSeq[Corpus.Doc]): IndexedSeq[String] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < PoolSize) picked += ctx.rng.nextInt(docs.size)
    picked.toIndexedSeq.map(i => Corpus.prompt(docs(i)))
  }

  /** One `answers` request: the facade call plus the collect of its result,
    * or in the traced half the same chain called layer by layer with a span
    * around each call. Returns the answer rows and the candidates scored. */
  private def answers(ctx: Ctx, store: GraftVectorStore, path: String,
                      prompt: String): (Array[Row], Int) =
    if (!ctx.tracer.enabled)
      (store.answers(prompt, Alias, TopN, Fanout).collect(), Fanout)
    else {
      val t = ctx.tracer
      t.span("request") {
        val q = t.span("Embedder.embedQuery")(Embedder.embedQuery(prompt))
        val slice = t.span("IndexTable.readLatest")(IndexTable.readLatest(ctx.spark, path, Alias))
        val hitsDf = KnnSearch.hitProjection(KnnSearch.topK(slice, q, Fanout))
        val hits = t.span("KnnSearch.exec")(hitsDf.collect())
        val local = ctx.spark.createDataFrame(hits.toSeq.asJava, hitsDf.schema)
        (t.span("Rerank.answers")(Rerank.answers(local, prompt, TopN).collect()), hits.length)
      }
    }

  /** Layer metrics every serving workload reports from its traced half:
    * per request, over the spans below each "request" span; a layer's time
    * is per call of it. */
  private def servingLayers(ctx: Ctx): mutable.Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    ctx.counters.foreach { c =>
      val t = ctx.tracer
      out ++= Main.sparkLayers(c, t, "request")
      val tot = t.totalMs
      val cnt = t.all.groupBy(_.name).map { case (k, v) => k -> v.size }
      def perCall(span: String): Double =
        if (cnt.getOrElse(span, 0) == 0) 0.0 else tot(span) / cnt(span)
      out("Embedder.embed_ms") = perCall("Embedder.embedQuery")
      out("IndexTable.resolve_ms") = perCall("IndexTable.readLatest")
      out("KnnSearch.exec_ms") = perCall("KnnSearch.exec")
      out("IndexTable.append_ms") = perCall("IndexTable.append")
      out("IndexTable.delete_ms") = perCall("IndexTable.delete")
      out("IndexTable.compact_ms") = perCall("IndexTable.compact")
      out("GraphAnn.walk_ms") = perCall("GraphAnn.walk")
      out("KnnSearch.project_ms") = perCall("KnnSearch.project")
      if (cnt.getOrElse("GraphAnn.walk", 0) > 0)
        out("GraphAnn.walk_jobs") =
          c.sum(Some(t.subtree("GraphAnn.walk")))(_.jobs).toDouble / cnt("GraphAnn.walk")
    }
    out
  }

  private def overhead(ctx: Ctx, kind: String): Double = {
    val a = ctx.rec.samplesOf(kind)
    val b = ctx.recTraced.samplesOf(kind)
    if (a.isEmpty || b.isEmpty) 0.0 else Stats.median(b) / Stats.median(a) - 1.0
  }

  private def opsOf(ctx: Ctx, kinds: String*): Long =
    kinds.map(k => ctx.rec.samplesOf(k).size.toLong).sum

  // ------------------------------------------------------------- serve_mutating

  /** Live document set of the mutating workload: O(1) seeded picks. */
  private final class Live(init: Seq[(String, String)]) {
    val text = mutable.HashMap.empty[String, String]
    private val paths = mutable.ArrayBuffer.empty[String]
    private val pos = mutable.HashMap.empty[String, Int]
    init.foreach { case (p, t) => put(p, t) }
    def put(p: String, t: String): Unit = {
      if (!pos.contains(p)) { pos(p) = paths.size; paths += p }
      text(p) = t
    }
    def remove(p: String): Unit = pos.remove(p).foreach { i =>
      val last = paths.last
      paths(i) = last
      pos(last) = i
      paths.remove(paths.size - 1)
      if (last == p) pos.remove(p)
      text.remove(p)
    }
    def pick(rng: SplittableRandom, n: Int, avoid: Set[String]): Seq[String] = {
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < n) {
        val p = paths(rng.nextInt(paths.size))
        if (!avoid(p)) out += p
      }
      out.toSeq
    }
    def size: Int = paths.size
  }

  private val NewPerCycle = 4
  private val UpdatesPerCycle = 4
  private val DeletesPerCycle = 4
  /** Reads per cycle; the last read of each cycle is a `searchHybrid`. */
  private val ReadsPerCycle = 10
  private val CompactEvery = 2

  /** serve_mutating: a read-only graph-layout store (`graphM = Some(16)`)
    * over a cut of the corpus, built once with its serving state, plus the
    * corpus ingested into a plain-layout store and compacted (three times,
    * median), plus one untimed `answers` and `searchHybrid`; all are set-up. Then a seeded closed-loop cycle on the
    * plain store: one `addDocuments` batch (new and re-ingested documents),
    * one `deleteDocuments`, nine `answers` (Zipf prompts) and one
    * `searchHybrid`, and a `compactIndex` every second cycle, so reads see
    * the delta overlay grow and collapse; and one `search(approximate =
    * true)` of a distinct prompt on the graph store per cycle.
    *
    * Checks: the first `answers` of each cycle must equal the store-free
    * in-memory chain (`IndexTable.ingestRecords` -> `KnnSearch.topK` ->
    * `Rerank.answers`) over the live records replayed from the operation
    * log; every answer and hybrid hit must be a live record with its newest
    * content (no read returns a document whose delete completed before the
    * read started); at the end the store's latest view must equal the
    * replayed live set record for record; the approximate results' recall@10
    * against exact top-10 over the graph store's records is at least
    * [[RecallFloor]]. */
  def serveMutating(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val docs = Corpus.documents(NDocs)
    val initial = docs.map(d => (Corpus.path(d.docId), d.text))
    // the graph store first: its single set-up absorbs the JVM's cold
    // start, so the three plain set-ups run warm and their median is steady
    val graph = new GraphTier(ctx, docs.take(GraphDocs))
    val (store, path, plainSetup) = plainStore(ctx, initial, reps = 3)
    val pool = promptPool(ctx, docs)
    // the first call of each read plan pays code generation and JIT: one
    // untimed `answers` and `searchHybrid` make that set-up, not latency
    // (the graph store's set-up already ran its first approximate search)
    val w0 = System.nanoTime()
    store.answers(pool(0), Alias, TopN, Fanout).collect()
    store.searchHybrid(pool(0), Alias, TopN).collect()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setup = plainSetup.map(_ + graph.setupS + warmS)
    val zipf = new Corpus.Zipf(PoolSize, ctx.rng)
    val live = new Live(initial)
    val t = ctx.tracer

    // the in-memory reference copy of the live records, keyed by path
    val recCols = Seq("id", "index_alias", "document_path", "page_number", "page_content",
      "page_content_vector")
    def records(batch: Seq[(String, String)]): Array[Row] =
      IndexTable.ingestRecords(Corpus.docFrame(spark, batch), Alias).select(recCols.map(col): _*)
        .collect()
    val r0 = System.nanoTime()
    val refSchema = IndexTable.ingestRecords(Corpus.docFrame(spark, initial.take(1)), Alias)
      .select(recCols.map(col): _*).schema
    val refRows = mutable.HashMap.empty[String, Seq[Row]]
    records(initial).groupBy(_.getString(2)).foreach { case (p, rs) => refRows(p) = rs.toSeq }
    val referenceS = (System.nanoTime() - r0) / 1e9
    def reference(prompt: String): Seq[Row] = {
      val recs = spark.createDataFrame(refRows.valuesIterator.flatten.toSeq.asJava, refSchema)
      Rerank.answers(KnnSearch.hitProjection(
        KnnSearch.topK(recs, Embedder.embedQuery(prompt), Fanout)), prompt, TopN).collect().toSeq
    }

    val deltaFiles = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Long, Long)]
    val stepsPerCycle = 2 + ReadsPerCycle + 2
    var exactChecked = 0

    def storeFiles(): Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    /** A write; in the traced half also the files and bytes it left. */
    def write[A](kind: String, label: String, layer: String)(body: => A): Boolean = {
      val before = if (t.enabled) storeFiles() else Map.empty[String, Long]
      val ok = ctx.current.time(kind, label)(
        if (t.enabled) t.span("request")(t.span(layer)(body)) else body).nonEmpty
      if (t.enabled) {
        val fresh = storeFiles().filter { case (p, _) => !before.contains(p) }
        written += ((fresh.size.toLong, fresh.values.sum))
      }
      ok
    }
    def checkLive(what: String, src: String, content: String): Unit =
      ctx.current.check(live.text.get(src).contains(content),
        s"$what: '$src' is deleted or stale")

    var cycle = 0
    var pendingDelete = Seq.empty[String]
    val ((steps, wall), _) = ctx.timed(stepsPerCycle) { i =>
      t.request = i
      val k = i % stepsPerCycle
      cycle = i / stepsPerCycle
      if (k == 0) {
        val fresh = (0 until NewPerCycle).map(j => (s"new_${cycle}_$j", Corpus.text(ctx.rng)))
        val updated = live.pick(ctx.rng, UpdatesPerCycle, Set.empty).map(p => (p, Corpus.text(ctx.rng)))
        val batch = fresh ++ updated
        val frame = Corpus.docFrame(spark, batch)
        if (write("write", s"addDocuments cycle $cycle", "IndexTable.append") {
              if (!t.enabled) store.addDocuments(frame, Alias)
              else IndexTable.append(IndexTable.ingestRecords(frame, Alias), path)
            }) ctx.checking {
          batch.foreach { case (p, x) => live.put(p, x) }
          records(batch).groupBy(_.getString(2)).foreach { case (p, rs) => refRows(p) = rs.toSeq }
        }
        pendingDelete = live.pick(ctx.rng, DeletesPerCycle, batch.map(_._1).toSet)
      } else if (k == 1) {
        val gone = pendingDelete
        if (write("write", s"deleteDocuments cycle $cycle", "IndexTable.delete") {
              if (!t.enabled) store.deleteDocuments(gone, Alias)
              else IndexTable.deleteRecords(IndexTable.readLatest(spark, path, Alias)
                .where(col("document_path").isin(gone: _*)).select(col("id")), path, Alias)
            }) gone.foreach { p => live.remove(p); refRows.remove(p) }
      } else if (k == 1 + ReadsPerCycle) {
        val prompt = pool(zipf.next())
        ctx.current.time("hybrid", prompt) {
          if (!t.enabled) store.searchHybrid(prompt, Alias, TopN).collect()
          else t.span("request")(t.span("GraftVectorStore.searchHybrid")(
            store.searchHybrid(prompt, Alias, TopN).collect()))
        }.foreach { case (rows, _) => ctx.checking {
          ctx.current.check(rows.length <= TopN &&
            rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length),
            s"hybrid '$prompt': ranks not 1..n")
          val scores = rows.map(_.getAs[Double]("rrf_score"))
          ctx.current.check(scores.sameElements(scores.sortBy(-_)),
            s"hybrid '$prompt': rrf_score not descending")
          rows.foreach(r => checkLive(s"hybrid '$prompt' (cycle $cycle)",
            r.getAs[String]("document_path"), r.getAs[String]("page_content")))
        } }
      } else if (k == 2 + ReadsPerCycle) {
        graph.search(ctx, cycle)
      } else if (k <= ReadsPerCycle) {
        val prompt = pool(zipf.next())
        if (t.enabled) deltaFiles += IndexTable.deltaFileCount(spark, path, Alias).toDouble
        ctx.current.time("answers", prompt)(answers(ctx, store, path, prompt)).foreach {
          case ((rows, scored), _) => ctx.checking {
            noteKept(ctx, rows.length, scored)
            rows.foreach(r => checkLive(s"answers '$prompt' (cycle $cycle)",
              r.getAs[String]("source"), r.getAs[String]("content")))
            if (k == 2) {
              exactChecked += 1
              ctx.current.check(rows.toSeq == reference(prompt),
                s"answers '$prompt' (cycle $cycle): differs from the in-memory reference")
            }
          }
        }
      } else if ((cycle + 1) % CompactEvery == 0) {
        write("compact", s"compactIndex cycle $cycle", "IndexTable.compact") {
          if (!t.enabled) store.compactIndex(Alias)
          else IndexTable.compact(spark, path, Alias)
        }
      }
    }

    val loopCheckS = ctx.checkNs / 1e9
    val e0 = System.nanoTime()
    // end state: the latest view must equal the live set replayed from the
    // operation log (the reference copy's records), record for record
    val cols = Seq("id", "document_path", "page_number", "page_content").map(col)
    val got = IndexTable.readLatest(spark, path, Alias).select(cols: _*).collect()
      .map(_.toSeq).toSet
    val want = refRows.valuesIterator.flatten.map(r => Seq(r.get(0), r.get(2), r.get(3), r.get(4))).toSet
    ctx.rec.check(refRows.keySet == live.text.keySet,
      s"reference copy holds ${refRows.size} documents, the live set ${live.size}")
    ctx.rec.check(got == want, s"latest view differs from the replayed live set: " +
      s"${(got -- want).size} unexpected, ${(want -- got).size} missing records")
    val storeBytes = storeFiles().values.sum
    val liveBytes = live.text.values.map(_.getBytes("UTF-8").length.toLong).sum
    store.dropIndex()
    val e1 = System.nanoTime()
    val recall = graph.finish(ctx)
    val e2 = System.nanoTime()

    val a = ctx.rec.samplesOf("answers")
    val h = ctx.rec.samplesOf("hybrid")
    val w = ctx.rec.samplesOf("write")
    val g = ctx.rec.samplesOf("ann")
    val layers = servingLayers(ctx)
    if (ctx.traced) {
      layers("IndexTable.delta_files") =
        if (deltaFiles.isEmpty) 0.0 else deltaFiles.sum / deltaFiles.size
      val nw = math.max(1, written.size).toDouble
      layers("IndexTable.files_written") = written.map(_._1).sum / nw
      layers("IndexTable.bytes_written") = written.map(_._2).sum / nw
      val hits = ctx.recTraced.samplesOf("answers").size * Fanout.toDouble
      val scan = ctx.counters.get.sum(Some(t.subtree("KnnSearch.exec")))(_.scanRows)
      layers("KnnSearch.rows_per_hit") = if (hits > 0) scan / hits else 0.0
      layers("Rerank.kept_ratio") = keptRatio
      layers("GraphAnn.build_s") = graph.buildS
      layers("GraftVectorStore.serving_state_s") = graph.servingS
      layers("Trace.overhead_ratio") = overhead(ctx, "answers")
    }
    Outcome(setup, "answers", a, TailQ, wall,
      opsOf(ctx, "answers", "hybrid", "ann", "write", "compact"),
      ListMap(
        "answers_p50_ms" -> (quantileOr(a, 0.5), "ms"),
        "answers_p90_ms" -> (quantileOr(a, 0.9), "ms"),
        "hybrid_p50_ms" -> (quantileOr(h, 0.5), "ms"),
        "write_p50_ms" -> (quantileOr(w, 0.5), "ms"),
        "write_p90_ms" -> (quantileOr(w, 0.9), "ms"),
        "store_bytes_ratio" -> (storeBytes.toDouble / liveBytes, "ratio"),
        "ann_p50_ms" -> (quantileOr(g, 0.5), "ms"),
        "ann_p90_ms" -> (quantileOr(g, 0.9), "ms"),
        "recall_at_10" -> (recall, "ratio")),
      layers.toMap,
      ListMap("docs" -> NDocs, "prompt_pool" -> PoolSize, "cycles" -> steps / stepsPerCycle,
        "exact_checked" -> exactChecked, "reference_s" -> referenceS,
        "live_docs" -> live.size, "store_bytes" -> storeBytes, "live_text_bytes" -> liveBytes,
        "plain_setup_reps_s" -> plainSetup, "read_warm_up_s" -> warmS, "graph_docs" -> GraphDocs, "graph_m" -> GraphM,
        "graph_ingest_s" -> graph.ingestS, "graph_build_s" -> graph.buildS,
        "graph_serving_state_s" -> graph.servingS, "recall_prompts" -> graph.prompts,
        "loop_check_s" -> loopCheckS, "end_check_s" -> (e1 - e0) / 1e9,
        "recall_check_s" -> (e2 - e1) / 1e9))
  }

  /** Percentile of `latency_tail_ms`: at the 10-20 samples of a run the
    * p90 would rest on one or two samples. */
  val TailQ = 0.75

  /** Answers returned over candidates scored, across the traced half. */
  private var kept = 0L
  private var scored = 0L
  private def noteKept(ctx: Ctx, k: Int, s: Int): Unit =
    if (ctx.tracer.enabled) { kept += k; scored += s }
  private def keptRatio: Double = if (scored == 0) 0.0 else kept.toDouble / scored

  // ------------------------------------------------------------- graph tier

  /** Documents of the graph-layout store: graph build and serving are
    * bound by Spark's per-job floor, so a larger store would mostly lengthen
    * set-up. */
  val GraphDocs = 300
  val GraphM = 16
  /** Recall floor of the approximate tier against exact search on the same
    * store; below it the run is not correct. */
  val RecallFloor = 0.8

  /** A read-only graph-layout store (`graphM = Some(16)`) over `docs`:
    * ingest, `buildGraphIndex` and the first approximate search, which
    * builds the driver-resident serving state, all at construction. */
  private final class GraphTier(ctx: Ctx, docs: IndexedSeq[Corpus.Doc]) {
    private val spark = ctx.spark
    private val path = s"${ctx.work}/store_graph"
    private val store = new GraftVectorStore(spark, path, graphM = Some(GraphM))
    private val order = Corpus.shuffle(docs.indices, ctx.rng)
    /** (prompt, approximate top-10 ids) of every completed search. */
    private val used = mutable.ArrayBuffer.empty[(String, Seq[String])]

    private val t0 = System.nanoTime()
    store.addDocuments(Corpus.docFrame(spark, docs.map(d => (Corpus.path(d.docId), d.text))), Alias)
    private val t1 = System.nanoTime()
    store.buildGraphIndex(Alias)
    private val t2 = System.nanoTime()
    private val first = Corpus.prompt(docs(order.last))
    used += ((first, ids(store.search(first, Alias, TopN, approximate = true).collect())))
    private val t3 = System.nanoTime()

    val ingestS: Double = (t1 - t0) / 1e9
    val buildS: Double = (t2 - t1) / 1e9
    val servingS: Double = (t3 - t2) / 1e9
    def setupS: Double = (t3 - t0) / 1e9
    def prompts: Int = used.size

    private def ids(rows: Array[Row]): Seq[String] = rows.map(_.getAs[String]("id")).toSeq

    /** The cycle's approximate search: a prompt no earlier search used. */
    def search(ctx: Ctx, cycle: Int): Unit = {
      val t = ctx.tracer
      val prompt = Corpus.prompt(docs(order(cycle % (order.length - 1))))
      ctx.current.time("ann", prompt) {
        if (!t.enabled) store.search(prompt, Alias, TopN, approximate = true).collect()
        else t.span("request") {
          val df = t.span("GraphAnn.walk")(store.search(prompt, Alias, TopN, approximate = true))
          t.span("KnnSearch.project")(df.collect())
        }
      }.foreach { case (rows, _) => used += ((prompt, ids(rows))) }
    }

    /** recall@10 of every approximate result against the exact top-10 by
      * cosine over the store's latest records, computed in memory (checked
      * against [[RecallFloor]]); then drops the store. */
    def finish(ctx: Ctx): Double = {
      val recs = IndexTable.readLatest(spark, path, Alias)
        .select(col("id"), col("page_content_vector")).collect()
        .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
      var inter = 0
      var total = 0
      used.foreach { case (prompt, approx) =>
        val q = Embedder.embedQuery(prompt)
        val exact = recs.map { case (id, v) => (id, cosine(q, v)) }
          .sortBy { case (id, sim) => (-sim, id) }.take(TopN).map(_._1)
        ctx.rec.check(approx.length == exact.length,
          s"approximate '$prompt': ${approx.length} hits, exact ${exact.length}")
        inter += exact.toSet.intersect(approx.toSet).size
        total += exact.length
      }
      store.dropIndex()
      val recall = if (total == 0) 0.0 else inter.toDouble / total
      ctx.rec.check(recall >= RecallFloor, f"recall@10 $recall%.4f below the floor $RecallFloor")
      recall
    }

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
  }
}
