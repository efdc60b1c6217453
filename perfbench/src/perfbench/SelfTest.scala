package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own test: a throwing operation is reported as failed,
  * named, and absent from every latency sample and pass time. Needs no
  * Spark session. Exits non-zero on the first broken expectation. */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    // serving loop: the middle call sleeps longer than the others, then throws
    val rec = new Recorder
    rec.time("answers", "ok-1") { Thread.sleep(2); 1 }
    val thrown = rec.time("answers", "boom") {
      Thread.sleep(60); throw new IllegalStateException("deliberate")
    }
    rec.time("answers", "ok-2") { Thread.sleep(2); 2 }
    expect(thrown.isEmpty, "a throwing call returned a result")
    expect(rec.attempted == 3 && rec.failed == 1, s"attempted ${rec.attempted}, failed ${rec.failed}")
    expect(rec.samplesOf("answers").size == 2, s"samples ${rec.samplesOf("answers")}")
    expect(rec.samplesOf("answers").forall(_ < 50), "the throwing call's time entered a sample")
    expect(rec.failures.map(_.label) == Seq("boom") &&
      rec.failures.head.error.contains("deliberate"), s"failure not named: ${rec.failures}")

    // curation pass: a throwing gate voids the pass time
    val tracer = new Tracer(null)
    val row = Array[Row](Row(1L, "a"))
    def gate(ms: Long, fail: Boolean): () => Array[Row] = () => {
      Thread.sleep(ms)
      if (fail) throw new RuntimeException("deliberate gate failure")
      row
    }
    val passRec = new Recorder
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val broken = Curate.runPass(passRec, tracer, "gate",
      Seq("g1" -> gate(2, fail = false), "g_throw" -> gate(60, fail = true), "g3" -> gate(2, fail = false)),
      (n, _) => seen += n, () => ())
    expect(broken.isEmpty, s"a pass with a failed gate reported a time: $broken")
    expect(seen == Seq("g1", "g3"), s"checked outputs $seen")
    expect(passRec.failures.map(_.label) == Seq("g_throw"), s"failure not named: ${passRec.failures}")
    expect(passRec.samplesOf("gate").size == 2 && passRec.samplesOf("gate").forall(_ < 50),
      s"gate samples ${passRec.samplesOf("gate")}")
    val whole = Curate.runPass(passRec, tracer, "gate",
      Seq("g1" -> gate(2, fail = false), "g3" -> gate(2, fail = false)), (_, _) => (), () => ())
    expect(whole.exists(t => math.abs(t - passRec.samplesOf("gate").takeRight(2).sum) < 1e-9),
      s"complete pass time $whole is not the sum of its gate times")

    // the result object counts the failure and keeps it out of the latency
    val res = Main.result(correct = true, rec.attempted, rec.failed,
      Seq(("latency_p50_ms", Stats.median(rec.samplesOf("answers")), "ms")))
    expect(res.contains("\"attempted\":3") && res.contains("\"failed\":1"), s"result $res")
    expect(Stats.median(rec.samplesOf("answers")) < 50, "median includes the failed call")

    // digests ignore row order but not multiplicity
    val a = Curate.digest(Array(Row(1, "x"), Row(2, null)))
    expect(a == Curate.digest(Array(Row(2, null), Row(1, "x"))), "digest depends on row order")
    expect(a != Curate.digest(Array(Row(1, "x"), Row(1, "x"), Row(2, null))), "digest ignores duplicates")
    println("selftest ok")
  }
}
