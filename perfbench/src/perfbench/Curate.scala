package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.SparkEntry

/** curate_batch: gates of the `dedup_*`, `text_*` and `quality_*`
  * families of `SparkEntry.queries` as a batch. The cold first pass, which
  * runs the `PersistedBuild` shared builds, and one warm-up pass are
  * set-up; later passes are timed. The seed shuffles the gate order of every pass. Each gate's row
  * count and order-independent content hash must match the values recorded
  * in `perfbench/expected/curate_batch.tsv`. */
object Curate {
  /** The fixed gate list: one consumer of each of the three shared builds
    * (`dedup_minhash_lsh` reads the MinHash signatures and the pair graph
    * built from them, `dedup_jaccard_ngram` and `dedup_clusters` the 3-gram
    * Jaccard pairs), `dedup_cluster_quality` (a value memo), and one gate
    * each of the `quality_*` and `text_*` families. All 43 family gates
    * would take a 4-core host ~30 s cold and ~17 s per warm pass; this list
    * takes ~2.5 s a warm pass, so a run times three passes and reports
    * their median. */
  val Gates: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_jaccard_ngram", "dedup_clusters",
    "dedup_cluster_quality", "quality_char_entropy", "text_homoglyph_normalize")
  val Families: Seq[String] = Seq("dedup", "text", "quality")

  val Docs = 1000
  val Vecs = 400
  /** Fixture directory name; the gates' `/tmp/graft_*` scratch paths embed
    * it, which lets the harness tell its own scratch from anyone else's. */
  val FixtureName = "perfbench_corpus"

  /** (rows, hash) of a gate's output: the hash is the sum over rows of a
    * 64-bit hash of each row's canonical text, so it ignores row order but
    * not multiplicity. */
  def digest(rows: Array[Row]): (Long, String) = {
    var h = 0L
    rows.foreach { r =>
      val s = canon(r)
      h += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$h%016x")
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One pass over `gates` (name, call-and-collect). Every call is timed by
    * `rec` as kind `kind`; `between` runs untimed after each call. Returns
    * the pass time in ms, or None when any gate failed — an incomplete pass
    * is not a pass time. */
  def runPass(rec: Recorder, tracer: Tracer, kind: String,
              gates: Seq[(String, () => Array[Row])],
              onRows: (String, Array[Row]) => Unit,
              between: () => Unit): Option[Double] = {
    var ok = true
    var total = 0.0
    tracer.span("pass") {
      gates.foreach { case (name, call) =>
        rec.time(kind, name)(tracer.span(s"SparkEntry.$name")(call())) match {
          case Some((rows, ms)) => total += ms; onRows(name, rows)
          case None => ok = false
        }
        between()
      }
    }
    if (ok) Some(total) else None
  }

  def loadExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(g, n, h) = l.split('\t')
      g -> (n.toLong, h)
    }.toMap
    finally src.close()
  }

  def run(ctx: Ctx, expectedPath: String, recordTo: Option[String]): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/$FixtureName"
    Corpus.writeFixture(spark, dir, Docs, Vecs)
    val missing = Gates.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"gates not registered: ${missing.mkString(", ")}")
    val expected = if (recordTo.nonEmpty) Map.empty[String, (Long, String)]
      else loadExpected(expectedPath)
    val seen = mutable.LinkedHashMap.empty[String, (Long, String)]

    def order(): Seq[(String, () => Array[Row])] =
      Corpus.shuffle(Gates, ctx.rng).map(n => n -> (() => SparkEntry.queries(n)(spark, dir).collect()))
    def onRows(name: String, rows: Array[Row]): Unit = ctx.checking {
      val d = digest(rows)
      val want = if (recordTo.nonEmpty) seen.getOrElse(name, d) else expected.getOrElse(name, null)
      ctx.rec.check(want != null, s"$name: no recorded output")
      ctx.rec.check(want == null || want == d,
        s"$name: ${d._1} rows hash ${d._2}, recorded ${Option(want).map(w => s"${w._1} rows hash ${w._2}").orNull}")
      seen(name) = d
    }
    // operators may persist() reusable intermediates: drop them after each
    // gate, as the Bench battery does, so cached blocks never carry work
    // from one timing into the next
    def between(): Unit = ctx.checking {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    val t0 = System.nanoTime()
    runPass(ctx.rec, ctx.tracer, "gate_cold", order(), onRows, () => between())
    val coldS = (System.nanoTime() - t0) / 1e9
    recordTo.foreach { p =>
      val lines = "# gate\trows\thash (Curate.digest at the fixed corpus)" +:
        Gates.map(g => seen.get(g).map { case (n, h) => s"$g\t$n\t$h" }.getOrElse(s"$g\t-1\tfailed"))
      java.nio.file.Files.write(java.nio.file.Paths.get(p), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val builds = graft.core.PersistedBuild.buildSecs
    // the first warm pass still pays JIT compilation of the gates' generated
    // code (it ran ~30% slower than later passes): set-up, not pass time
    val w0 = System.nanoTime()
    runPass(ctx.rec, ctx.tracer, "gate_warm_up", order(), onRows, () => between())
    val warmS = (System.nanoTime() - w0) / 1e9

    val passes = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val ((_, wall), tracedHalf) = ctx.timed(1) { _ =>
      runPass(ctx.current, ctx.tracer, "gate", order(), onRows, () => between())
        .foreach(ms => (if (ctx.tracer.enabled) tracedPasses else passes) += ms)
    }

    val layers = mutable.LinkedHashMap.empty[String, Double]
    ctx.counters.foreach { c =>
      val t = ctx.tracer
      val n = math.max(1, tracedHalf.map(_._1).getOrElse(0)).toDouble
      layers ++= Main.sparkLayers(c, t, "pass")
      val tot = t.totalMs
      Families.foreach { f =>
        layers(s"SparkEntry.$f.pass_s") =
          tot.collect { case (k, v) if k.startsWith(s"SparkEntry.${f}_") => v }.sum / 1000 / n
      }
      layers("PersistedBuild.build_s") = builds.values.sum
      layers("PersistedBuild.builds") = builds.size.toDouble
      layers("Trace.overhead_ratio") =
        if (passes.isEmpty || tracedPasses.isEmpty) 0.0
        else Stats.median(tracedPasses.toSeq) / Stats.median(passes.toSeq) - 1.0
    }
    val passS = if (passes.isEmpty) 0.0 else Stats.median(passes.toSeq) / 1000
    // the batch user's latency is the pass; gate calls are the operations
    Outcome(Seq(coldS + warmS), "pass", passes.toSeq, Workloads.TailQ, wall,
      ctx.rec.samplesOf("gate").size.toLong,
      ListMap("pass_s" -> (passS, "s")),
      layers.toMap,
      ListMap("docs" -> Docs, "vectors" -> Vecs, "gates" -> Gates.size,
        "warm_passes" -> passes.size, "cold_pass_s" -> coldS, "warm_up_pass_s" -> warmS,
        "shared_builds" -> builds.size, "shared_build_s" -> builds.values.sum))
  }
}
