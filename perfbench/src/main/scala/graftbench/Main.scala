package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`,
  * run from the root of a graft checkout. Prints progress lines, then one
  * JSON result object as the last line of standard output.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    root: File, dataKey: String) {
  val dataDir = new File(root, "data/perfbench")
  val workDir = new File(root, s".bench_build/perfbench/work-$workload")
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(m.getOrElse("root", ".")).getAbsoluteFile,
      need("data-key"))
  }
}

final class GateFailure(msg: String) extends Exception(msg)

object Gate {
  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new GateFailure(msg)
}

/** Times graft calls. Every op runs its gate after the timed body; an op
  * whose body throws or whose gate fails counts as failed and its time is
  * dropped. A pass is a workload's ops in order; its time is the sum of its
  * ops' times, kept only when every op passed.
  */
final class Ops(var spans: Option[Spans] = None) {
  var attempted = 0
  var failed = 0
  val times = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val passes = ArrayBuffer.empty[Double]
  private var passSum = 0.0
  private var passOk = true

  def traced[A](name: String, op: String)(f: => A): A = spans match {
    case Some(s) => s(name, op)(f)
    case None => f
  }

  /** Collector time during the last pass, without the collection before it. */
  var lastGcMs = 0L

  def pass(f: => Unit): Unit = {
    System.gc() // no heap pressure carried over from the previous pass
    val gc0 = Jvm.gcMs
    passSum = 0.0
    passOk = true
    traced("pass", "pass")(f)
    lastGcMs = Jvm.gcMs - gc0
    if (passOk) passes += passSum
  }

  def op[A](name: String)(body: => A)(gate: A => Unit): Unit = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = traced(name, name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      traced("gate", name)(gate(r))
      times.getOrElseUpdate(name, ArrayBuffer.empty) += dt
      passSum += dt
    } catch {
      case NonFatal(e) =>
        failed += 1
        passOk = false
        Log(s"op $name FAILED: $e")
    }
  }

  def median(name: String): Double = Stats.median(times(name).toSeq)
}

object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    println(f"# [${(System.currentTimeMillis() - t0) / 1e3}%7.2f s] $msg")
}

object Session {
  /** The benchmark's own local session; nothing it sets leaks elsewhere. */
  def apply(cores: Int, root: File): SparkSession = {
    val scratch = new File(root, ".bench_build/perfbench")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      // a near-dup pass generates about 160 classes, more than the default
      // 100-entry cache holds, so every pass would compile them all again;
      // with room for them a pass reuses its code, as one query repeated
      // under the default cache does
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.kryo.registrator", "graft.sketch.agg.GraftKryoRegistrator")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Main {
  /** Set-ups per run. The first also prepares the inputs and loads the
    * classes the others find loaded, so it is dropped; `setup_s` is the
    * median of the rest.
    */
  val SetUps = 4
  /** Untimed passes before the measured ones. The first is cold, about
    * 2.5 times a steady pass. The next still runs 10-25 % slower, but a
    * second warm-up pass did not make the run medians steadier over ten
    * seeds, and the time budget of a set of runs has no room for it.
    */
  val WarmUps = 1
  /** Measured passes per run, at least. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val code =
      try {
        if (opts.workload == Workload.Inputs) prepareInputs(opts)
        else println(run(opts, Workload(opts)))
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  /** Makes every input a run can ask for: each seed block of the
    * transcripts table, with its exact counts, and the document corpus.
    * Runs once after a build, so no measured run spends its time limit on
    * generating inputs.
    */
  def prepareInputs(o: Opts): Unit = {
    val spark = Session(4, o.root)
    try {
      for (b <- 0 until Data.Blocks) new Transcripts(o.copy(seed = b.toLong)).prepare(spark)
      new NearDup(o).prepare(spark)
    } finally spark.stop()
  }

  private def metric(name: String, value: Double, unit: String): String =
    s"${Json.str(name)}:{\"value\":${Json.num(value)},\"unit\":${Json.str(unit)}}"

  def run(o: Opts, w: Workload): String = {
    val ops = new Ops()
    val setUps = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    try {
      for (i <- 1 to SetUps) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = Session(4, o.root)
        if (i == 1) {
          // inputs and exact references, in the set-up that is dropped
          Log("session started")
          w.prepare(spark)
          Log("inputs ready")
        }
        w.register(spark)
        w.plan(spark)
        setUps += (System.nanoTime() - t0) / 1e9
      }
      Log(s"set-ups took ${setUps.map(t => f"$t%.2f").mkString(" ")} s (the first is dropped)")
      // untimed passes, so the JIT has compiled the pass's code
      for (_ <- 1 to WarmUps) ops.pass(w.pass(spark, ops))
      Log("warm-up passes: " + ops.passes.map(t => f"$t%.3f").mkString(" ") + " s")
      ops.passes.clear(); ops.times.clear()
      val metrics =
        if (!o.trace) {
          measure(o.seconds, MinPasses, ops)(w.pass(spark, ops))
          Log(s"${ops.passes.size} measured passes: " +
            ops.passes.map(t => f"$t%.3f").mkString(" ") + " s")
          Seq(
            metric("setup_s", Stats.median(setUps.drop(1).toSeq), "s"),
            metric("pass_s", Stats.median(ops.passes.toSeq), "s"))
        } else Traced.run(o, w, spark, ops).toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          metric(k, v, u)
        }
      Log(ops.times.map { case (k, v) => s"$k: ${v.map(t => f"$t%.3f").mkString(" ")}" }
        .mkString("op times (s) ", "; ", ""))
      val failed = ops.failed
      s"""{"correct":${failed == 0 && ops.attempted > 0},"attempted":${ops.attempted},""" +
        s""""failed":$failed,"metrics":{${metrics.mkString(",")}}}"""
    } finally if (spark != null) spark.stop()
  }

  /** Runs `pass` `minPasses` times, then again while one more pass of the
    * median length so far still ends within `seconds`.
    */
  def measure(seconds: Double, minPasses: Int, ops: Ops)(pass: => Unit): Unit = {
    val t0 = System.nanoTime()
    val walls = ArrayBuffer.empty[Double]
    do {
      val t = System.nanoTime()
      ops.pass(pass)
      walls += (System.nanoTime() - t) / 1e9
    } while (walls.size < minPasses ||
      (System.nanoTime() - t0) / 1e9 + Stats.median(walls.toSeq) <= seconds)
  }
}
