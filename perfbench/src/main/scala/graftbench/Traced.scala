package graftbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** The traced run: the untraced run's passes, alternately without and with
  * spans and the Spark listener (at least `MinPairs` pairs), then the layer
  * probes (scan ceiling, sketch kernels, JVM, local[1] scaling). Returns
  * every per-layer metric as (value, unit).
  */
object Traced {
  /** Untraced/traced pass pairs per traced run, at least. */
  val MinPairs = 2

  def run(o: Opts, w: Workload, spark: SparkSession, ops: Ops)
      : Map[String, (Double, String)] = {
    val out = mutable.Map.empty[String, (Double, String)]

    // untraced and traced passes alternate, and so does which of the two
    // comes first in a pair, so drift and the warm-up slope hit both alike;
    // the listener is attached only after the bus has delivered every
    // earlier event, and read only after it has delivered the traced pass's
    val spans = new Spans
    val counters = new SparkCounters
    val untraced = new Ops()
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val overheads = mutable.ArrayBuffer.empty[Double]
    var gcMs = 0L

    def untracedPass(): Option[Double] = {
      val before = untraced.passes.size
      untraced.pass(w.pass(spark, untraced))
      if (untraced.passes.size > before) Some(untraced.passes.last) else None
    }

    def tracedPass(): Option[Double] = {
      ListenerBusDrain(spark.sparkContext)
      counters.reset()
      spark.sparkContext.addSparkListener(counters)
      ops.spans = Some(spans)
      val before = ops.passes.size
      ops.pass(w.pass(spark, ops))
      gcMs += ops.lastGcMs
      ops.spans = None
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      if (ops.passes.size > before) {
        perPass += counters.snapshot()
        Some(ops.passes.last)
      } else None
    }

    val t0 = System.nanoTime()
    var pairs = 0
    var pair = 0.0
    do {
      val t = System.nanoTime()
      val (u, tr) =
        if (pairs % 2 == 0) { val u = untracedPass(); (u, tracedPass()) }
        else { val tr = tracedPass(); (untracedPass(), tr) }
      for (a <- u; b <- tr) overheads += (b - a) / a * 100
      pairs += 1
      pair = (System.nanoTime() - t) / 1e9
    } while (pairs < MinPairs || (System.nanoTime() - t0) / 1e9 + pair <= o.seconds)
    Log(s"$pairs untraced/traced pass pairs; per traced pass " + Seq("spark.jobs",
      "spark.stages", "spark.tasks", "shuffle.records").map(k =>
      s"$k ${perPass.map(_(k).toLong).mkString("/")}").mkString(", "))
    ops.attempted += untraced.attempted
    ops.failed += untraced.failed
    val untracedMain = w.mainSeconds(untraced)
    val gcPerPass = gcMs.toDouble / perPass.size.max(1)

    // Spark-side counters: counts repeat exactly from pass to pass; times
    // are medians over the traced passes
    if (perPass.nonEmpty) perPass.head.keys.foreach { k =>
      val unit = if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "bytes" else "count"
      out(k) = (Stats.median(perPass.map(_(k)).toSeq), unit)
    }
    // time inside the ops' spans with and without a Spark job running
    val opSpans = spans.all.filter(s => s.parent >= 0 && s.name != "gate" &&
      spans.all(s.parent).name == "pass")
    val byPass = opSpans.groupBy(_.parent).values.toSeq
    val sparkS = byPass.map(_.map(s => counters.jobCoveredMs(s.startMs, s.endMs)).sum / 1e3)
    val opS = byPass.map(_.map(s => (s.endNs - s.startNs) / 1e9).sum)
    out("span.spark_s") = (Stats.median(sparkS), "s")
    out("span.serial_s") = (Stats.median(opS.zip(sparkS).map { case (a, b) => a - b }), "s")
    out("trace.overhead_pct") = (Stats.median(overheads.toSeq), "%")

    val scanS = Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime(); w.scan(spark); (System.nanoTime() - t) / 1e9
    })
    out("main.rows_per_s") = (w.mainRows / untracedMain, "1/s")
    out("scan.rows_per_s") = (w.mainRows / scanS, "1/s")
    out("main.self_s") = (untracedMain - scanS, "s")

    Kernels.measure(w.sample(spark)).foreach { case (k, v) =>
      out(k) = (v, if (k.endsWith("bytes")) "bytes" else "ns")
    }
    out("jvm.gc_ms") = (gcPerPass, "ms")
    out("jvm.heap_after_gc_mb") = (Jvm.heapAfterGcMb, "MB")
    spark.stop()

    // the main op at local[1]: throughput ratio / 4
    val one = Session(1, o.root)
    try {
      w.register(one)
      w.plan(one)
      val ops1 = new Ops()
      Main.measure(o.seconds / 4, 1, ops1)(w.mainOp(one, ops1))
      ops.attempted += ops1.attempted
      ops.failed += ops1.failed
      out("scale.eff_1_to_4") = (w.mainSeconds(ops1) / untracedMain / 4, "ratio")
    } finally one.stop()

    val f = new java.io.File(o.root,
      s".bench_build/perfbench/spans-${o.workload}-s${o.seed}.json")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, spans.toJson)
    Log(s"spans written to $f")
    out.toMap
  }
}
