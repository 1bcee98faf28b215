package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.SketchJob
import graft.plans.TurnSketchNativeAgg
import graft.sketch.{BloomSketch, HllSketch}
import graft.sketch.agg.TurnSketchAgg

/** One workload: inputs made from the seed, a set-up, and a pass of timed,
  * gated calls into graft.
  */
abstract class Workload(val o: Opts) {
  /** Makes or finds the inputs and computes exact references. Untimed. */
  def prepare(spark: SparkSession): Unit
  /** Registers what the ops need in a fresh session (part of set-up). */
  def register(spark: SparkSession): Unit = ()
  /** Plans the pass's queries (part of set-up). */
  def plan(spark: SparkSession): Unit
  def pass(spark: SparkSession, ops: Ops): Unit
  /** The main op alone (the local[1] scaling probe runs it). */
  def mainOp(spark: SparkSession, ops: Ops): Unit = pass(spark, ops)
  /** Rows the main op consumes, and its median time. */
  def mainRows: Long
  def mainSeconds(ops: Ops): Double
  /** The main op's input through Spark's reader into a trivial sum. */
  def scan(spark: SparkSession): Unit
  /** Values from this workload's input for the kernel probes. */
  def sample(spark: SparkSession): Sample
}

object Workload {
  val Names = Seq("transcripts", "neardup")
  /** Not a workload: makes every workload's inputs and exits. */
  val Inputs = "inputs"

  def apply(o: Opts): Workload = o.workload match {
    case "transcripts" => new Transcripts(o)
    case "neardup" => new NearDup(o)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }
}

/** Sketch builds and the resumable job over the seeded transcripts table.
  * A pass runs the flagship build (one composite sketch per role, 4 groups)
  * natively in SQL and through `udaf(TurnSketchAgg)`, then `SketchJob.run`
  * from an empty checkpoint directory and again after losing a seeded
  * quarter of its checkpoint chunks.
  */
final class Transcripts(o: Opts) extends Workload(o) {
  /** Conversations besides the hot head (about 8 turns each). */
  val Convs = 25000
  private val Chunks = 16
  private val SketchCols = Seq("hll_conv", "cms_tool", "topk_tool", "tdigest_len", "kll_len",
    "bloom_conv")
  private val HllBound = 3 * 1.04 / math.sqrt(1 << HllSketch.DefaultP)
  private lazy val ckpt = new File(o.workDir, "ckpt")
  private lazy val outDir = new File(o.workDir, "out")
  private val rng = new scala.util.Random(o.seed)
  private var path: String = _
  private var rows = 0L
  private var stats: Map[String, Long] = Map.empty
  private var reference: Seq[String] = _

  def prepare(spark: SparkSession): Unit = {
    path = Data.transcripts(spark, o.dataDir, o.dataKey, o.seed, Convs)
    stats = Data.transcriptStats(spark, path)
    rows = stats("rows")
    Log(s"transcripts $path: $rows rows, ${stats("convs")} distinct convs")
  }

  override def register(spark: SparkSession): Unit = {
    TurnSketchNativeAgg.register(spark, cmsWidth = 8192, cmsDepth = 5)
    spark.read.parquet(path).createOrReplaceTempView("transcripts")
  }

  private def native(spark: SparkSession): DataFrame =
    spark.sql(
      """SELECT role, turn_sketch_native(conv_id, tool, CAST(text_len AS DOUBLE)) AS sk
        |FROM transcripts GROUP BY role""".stripMargin)
      .select(col("role"), col("sk.*"))

  private def viaUdaf(spark: SparkSession): DataFrame = {
    val agg = udaf(new TurnSketchAgg(cmsWidth = 8192, cmsDepth = 5, bloomW = 0,
      bloomD = BloomSketch.DefaultHash))
    spark.read.parquet(path)
      .select(col("conv_id").cast("binary").as("conv_id"), col("role"),
        col("tool").cast("binary").as("tool"), col("text_len").cast("double").as("len"))
      .groupBy(col("role"))
      .agg(agg(col("conv_id"), col("tool"), col("len")).as("sk"))
      .select(col("role"), col("sk.*"))
  }

  private def cfg = SketchJob.Config(input = path, output = outDir.getPath,
    checkpointDir = ckpt.getPath, checkpointChunks = Chunks)

  def plan(spark: SparkSession): Unit = {
    native(spark).queryExecution.executedPlan
    viaUdaf(spark).queryExecution.executedPlan
    SketchJob.plannedInput(spark, cfg).queryExecution.executedPlan
  }

  private def checkTurnsAndHll(rs: Array[Row]): Unit = {
    Gate.check(rs.map(_.getAs[Long]("turns")).sum == rows, "turn count != table rows")
    rs.foreach { r =>
      val role = r.getString(0)
      val est = HllSketch.fromBytes(r.getAs[Array[Byte]]("hll_conv")).estimate
      val exact = stats(s"convs.$role").toDouble
      Gate.check(math.abs(est - exact) <= HllBound * exact,
        s"HLL for $role: $est vs exact $exact")
    }
  }

  private def byRole(rs: Array[Row]): Map[String, Seq[Seq[Byte]]] = rs.map { r =>
    r.getString(0) -> SketchCols.map(c => r.getAs[Array[Byte]](c).toSeq)
  }.toMap

  /** The job's result rows, checked against the table's row count. */
  private def jobResult(df: DataFrame): Seq[String] = {
    val rs = df.collect().sortBy(_.getAs[String]("role"))
    Gate.check(rs.map(_.getAs[Long]("turns")).sum == rows, "job turn count != table rows")
    rs.map(_.toString).toSeq
  }

  override def mainOp(spark: SparkSession, ops: Ops): Unit =
    ops.op("native")(native(spark).collect())(checkTurnsAndHll)

  def pass(spark: SparkSession, ops: Ops): Unit = {
    var nativeRows: Array[Row] = null
    ops.op("native")(native(spark).collect()) { rs =>
      checkTurnsAndHll(rs)
      nativeRows = rs
    }
    ops.op("udaf")(viaUdaf(spark).collect()) { rs =>
      checkTurnsAndHll(rs)
      Gate.check(nativeRows == null || byRole(rs) == byRole(nativeRows),
        "native and udaf sketches differ")
    }

    Files.delete(ckpt); Files.delete(outDir)
    var fresh: Seq[String] = null
    ops.op("job_fresh")(jobResult(SketchJob.run(spark, cfg))) { r =>
      if (reference == null) reference = r
      Gate.check(r == reference, "fresh job output differs from the first run's")
      fresh = r
    }
    val chunks = Option(ckpt.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".ckpt")).sortBy(_.getName)
    rng.shuffle(chunks.toSeq).take(chunks.length / 4).foreach(_.delete())
    ops.op("job_resume")(jobResult(SketchJob.run(spark, cfg))) { r =>
      Gate.check(chunks.length >= 4, s"only ${chunks.length} checkpoint chunks")
      Gate.check(fresh != null && r == fresh, "resumed job output differs from the fresh run")
    }
  }

  def mainRows: Long = rows
  def mainSeconds(ops: Ops): Double = ops.median("native")

  def scan(spark: SparkSession): Unit =
    spark.read.parquet(path)
      .select(sum(length(col("conv_id")) + length(col("role")) +
        coalesce(length(col("tool")), lit(0)) + col("text_len")))
      .collect()

  def sample(spark: SparkSession): Sample = {
    val rs = spark.read.parquet(path)
      .where(pmod(hash(col("conv_id")), lit(8)) === 0)
      .select(col("conv_id"), col("tool"), col("text_len").cast("double"))
      .orderBy(col("conv_id"))
      .collect()
    val ids = rs.map(_.getString(0))
    Sample(ids, rs.map(_.getString(1)), rs.map(_.getDouble(2)), {
      var g = 0
      ids.indices.map(i => { if (i > 0 && ids(i) != ids(i - 1)) g += 1; g }).toArray
    })
  }
}

/** The three near-duplicate queries of `SparkEntry` in a seed-chosen order,
  * over a corpus made the way the `documents` fixture is made, at the size
  * of its sf0.01 copy (see `Data.documents`). The documents are the same for
  * every seed, so runs differ only in query order and noise.
  */
final class NearDup(o: Opts) extends Workload(o) {
  val Docs = 500
  private val CorpusSeed = 42L
  private val Queries = new scala.util.Random(o.seed)
    .shuffle(Seq("q_ngram_jaccard_near_dup", "q_neardup_components", "q_corpus_curation"))
  private var dir: String = _
  private var planted: Seq[(Long, Long)] = Nil
  private val fingerprints = scala.collection.mutable.Map.empty[String, (Long, Int)]

  def prepare(spark: SparkSession): Unit = {
    val (d, p, texts) = Data.documents(spark, o.dataDir, o.dataKey, CorpusSeed, Docs)
    dir = d; planted = p
    Log(s"documents $dir: ${planted.size} planted near-duplicates; shape " +
      Data.corpusShape(texts).map { case (k, v) => f"$k $v%.3f" }.mkString(", ") +
      s"; order ${Queries.mkString(" ")}")
  }

  private def query(spark: SparkSession, q: String): DataFrame =
    graft.SparkEntry.queries(q)(spark, dir)

  /** Only the pair query: the other two run Spark jobs while they are
    * being built (connected-component rounds, an eager local checkpoint).
    */
  def plan(spark: SparkSession): Unit =
    query(spark, "q_ngram_jaccard_near_dup").queryExecution.executedPlan

  private def check(q: String, rs: Array[Row]): Unit = {
    val strs = rs.map(_.toString)
    val fp = strs.sorted.foldLeft(17L)((h, s) => h * 31 + s.hashCode)
    val (fp0, n0) = fingerprints.getOrElseUpdate(q, (fp, rs.length))
    Gate.check(fp == fp0 && rs.length == n0, s"$q output changed between passes")
    q match {
      case "q_ngram_jaccard_near_dup" =>
        val pairs = rs.map(r => (r.getLong(0), r.getLong(1))).toSet
        Gate.check(planted.forall(pairs.contains), "a planted near-duplicate pair is missing")
      case "q_neardup_components" =>
        val rep = rs.map(r => r.getLong(0) -> r.getLong(1)).toMap
        Gate.check(planted.forall { case (a, b) => rep.get(a).exists(rep.get(b).contains) },
          "a planted near-duplicate pair is not in one component")
      case "q_corpus_curation" =>
        Gate.check(rs.length == 1 && rs(0).getLong(0) == Docs, "curation saw the wrong docs")
    }
  }

  def pass(spark: SparkSession, ops: Ops): Unit =
    Queries.foreach(q => ops.op(q)(query(spark, q).collect())(check(q, _)))

  def mainRows: Long = Docs
  def mainSeconds(ops: Ops): Double = Stats.median(ops.passes.toSeq)

  def scan(spark: SparkSession): Unit =
    spark.read.parquet(s"$dir/documents.parquet").select(sum(length(col("text")))).collect()

  def sample(spark: SparkSession): Sample = {
    val rs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "n_chars")
      .orderBy("doc_id").collect()
    val rows = rs.flatMap { r =>
      r.getString(1).split(' ').map(wd => (s"${r.getLong(0)}:$wd", wd, r.getLong(2).toDouble,
        r.getLong(0).toInt))
    }
    Sample(rows.map(_._1), rows.map(_._2), rows.map(_._3), rows.map(_._4))
  }
}
