package graft.jobs

import java.io.{ByteArrayInputStream, IOException}
import java.net.URI
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, DeflaterOutputStream, Inflater, InflaterInputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.sketch._
import graft.sketch.agg.SketchFunctions

/** Per-partition checkpoint row: every sketch built from one input split,
  * for one role group, plus lineage (partition id, rows seen, wall ms).
  */
case class PartitionSketches(
    partition_id: Int,
    role: String,
    rows_seen: Long,
    wall_ms: Long,
    hll_conv: Array[Byte],
    cms_tool: Array[Byte],
    topk_tool: Array[Byte],
    tdigest_len: Array[Byte],
    kll_len: Array[Byte],
    bloom_conv: Array[Byte])

/** Lineage of one checkpoint group: which chunk, how many rows, how long. */
case class ChunkLineage(partition_id: Int, rows_seen: Long, wall_ms: Long)

/** One role's merged sketch states (a bucket partial, or the final merge)
  * and the lineage of every checkpoint group folded into them.
  */
case class MergedRole(state: PartitionSketches, lineage: Seq[ChunkLineage])

/** A checkpoint file that does not decode into the chunk its name claims. */
final class CorruptCheckpointException(val file: String, val offset: Long, reason: String,
    cause: Throwable = null)
    extends IOException(s"corrupt checkpoint $file at byte $offset: $reason", cause)

/** The spark-submit main of the north rule: partition-pruned scan → per-input-
  * partition sketching (map-side full combine — the raw 10^12 rows are never
  * shuffled) → per-partition checkpoint files with lineage → distributed
  * two-level tree merge that reads the checkpoints by id → final per-role
  * results.
  *
  * Resumability: each input partition writes `part-NNNNN.ckpt` atomically
  * (write temp + rename). A re-run with the same input manifest skips
  * partitions whose checkpoint exists — kill the job at any point and resume
  * reproduces the identical final sketches. A manifest guards against
  * resuming over a changed input set or filter.
  */
object SketchJob {

  val CkptMagic = 0x47434b50 // "GCKP"
  private val CkptVersion = 1
  // role length + rows + wall + six sketch lengths: the least one group takes
  private val MinGroupBytes = 4 + 8 + 8 + 6 * 4

  case class Config(
      input: String,
      output: String,
      checkpointDir: String,
      dateFrom: Option[String] = None,
      dateTo: Option[String] = None,
      hllP: Int = HllSketch.DefaultP,
      cmsWidth: Int = CmsSketch.DefaultBins,
      cmsDepth: Int = CmsSketch.DefaultHash,
      topKCapacity: Int = 100,
      tdigestCentroids: Int = 100,
      kllK: Int = 200,
      bloomWidth: Int = BloomSketch.DefaultBits,
      bloomDepth: Int = BloomSketch.DefaultHash,
      // resume granularity: coalesce the scan into this many chunks, each
      // checkpointed atomically. 0 = one checkpoint per raw input split.
      // At 100TB / ~800k splits, per-split checkpoints would write TBs of
      // sketch state; ~10k chunks keeps checkpoint volume ~0.1% of input.
      checkpointChunks: Int = 0)

  /** Pruned scan: the ts_date filter reaches the file index (Iceberg-style
    * partition pruning on the Parquet stand-in layout).
    */
  def scan(spark: SparkSession, cfg: Config): DataFrame = {
    var df = spark.read.parquet(cfg.input)
    cfg.dateFrom.foreach(d => df = df.filter(col("ts_date") >= lit(d)))
    cfg.dateTo.foreach(d => df = df.filter(col("ts_date") <= lit(d)))
    df
  }

  // ---- checkpoint codec (one file per input partition) ----

  def checkpointPath(dir: Path, pid: Int): Path = new Path(dir, f"part-$pid%05d.ckpt")

  private def encodeCkpt(pid: Int, groups: Seq[PartitionSketches]): Array[Byte] = {
    def len(p: PartitionSketches) =
      64 + p.role.length * 3 + Seq(p.hll_conv, p.cms_tool, p.topk_tool,
        p.tdigest_len, p.kll_len, p.bloom_conv).map(_.length + 4).sum
    val bb = ByteBuffer.allocate(24 + groups.map(len).sum).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(CkptMagic); bb.putInt(CkptVersion); bb.putInt(pid); bb.putInt(groups.size)
    groups.foreach { p =>
      val rb = p.role.getBytes(UTF_8)
      bb.putInt(rb.length); bb.put(rb)
      bb.putLong(p.rows_seen); bb.putLong(p.wall_ms)
      Seq(p.hll_conv, p.cms_tool, p.topk_tool, p.tdigest_len, p.kll_len, p.bloom_conv)
        .foreach { a => bb.putInt(a.length); bb.put(a) }
    }
    val out = new Array[Byte](bb.position()); bb.flip(); bb.get(out); out
  }

  /** Commits chunk `pid`'s checkpoint: deflate to a temp file, then rename. */
  def writeCheckpoint(fs: FileSystem, dir: Path, pid: Int,
      groups: Seq[PartitionSketches]): Unit = {
    val finalPath = checkpointPath(dir, pid)
    val tmp = new Path(dir,
      f"part-$pid%05d.ckpt.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    // level-1 deflate: sketch state is sparse-ish and compresses well;
    // BEST_SPEED keeps checkpoint cost ~3x cheaper than default gzip
    val os = new DeflaterOutputStream(fs.create(tmp, true),
      new Deflater(Deflater.BEST_SPEED), 1 << 16)
    os.write(encodeCkpt(pid, groups))
    os.close()
    if (!fs.rename(tmp, finalPath)) {
      // a failed rename is only benign if a concurrent attempt already
      // committed; otherwise fail the task so Spark retries it instead
      // of silently dropping this partition from the final merge
      val committed = fs.exists(finalPath)
      fs.delete(tmp, false)
      if (!committed) {
        throw new IOException(
          s"checkpoint commit failed for partition $pid: rename($tmp -> $finalPath)")
      }
    }
  }

  /** Decodes chunk `pid`'s deflated checkpoint; `file` names it in errors.
    * Every length is checked against the bytes left before anything is
    * allocated, and the header must name chunk `pid`: the merge opens files
    * by id, so a chunk copied over another id's file would count twice.
    * Any defect throws [[CorruptCheckpointException]].
    */
  def decodeCkpt(compressed: Array[Byte], pid: Int, file: String): Seq[PartitionSketches] = {
    val inflater = new Inflater()
    val (bytes, consumed) =
      try (new InflaterInputStream(new ByteArrayInputStream(compressed), inflater, 1 << 16)
        .readAllBytes(), inflater.getBytesRead)
      catch {
        case e: IOException => throw new CorruptCheckpointException(file,
          inflater.getBytesRead, s"deflate stream: ${e.getMessage}", e)
      } finally inflater.end()
    if (consumed != compressed.length) {
      throw new CorruptCheckpointException(file, consumed,
        s"${compressed.length - consumed} bytes after the deflate stream")
    }
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def fail(at: Int, why: String) =
      throw new CorruptCheckpointException(file, at, s"$why (inflated record)")
    def int(what: String): Int = {
      if (bb.remaining < 4) fail(bb.position, s"truncated before $what")
      bb.getInt()
    }
    def long(what: String): Long = {
      if (bb.remaining < 8) fail(bb.position, s"truncated before $what")
      bb.getLong()
    }
    def arr(what: String): Array[Byte] = {
      val at = bb.position
      val n = int(s"$what length")
      if (n < 0 || n > bb.remaining) fail(at, s"$what length $n, ${bb.remaining} bytes left")
      val a = new Array[Byte](n); bb.get(a); a
    }
    val magic = int("magic")
    if (magic != CkptMagic) fail(0, f"magic 0x$magic%08x")
    val version = int("version")
    if (version != CkptVersion) fail(4, s"unsupported version $version")
    val header = int("partition id")
    if (header != pid) fail(8, s"header is chunk $header, file name says $pid")
    val n = int("group count")
    if (n < 0 || n > bb.remaining / MinGroupBytes) fail(12, s"group count $n")
    val groups = (0 until n).map { _ =>
      val role = new String(arr("role"), UTF_8)
      val rows = long("rows_seen"); val wall = long("wall_ms")
      PartitionSketches(pid, role, rows, wall, arr("hll_conv"), arr("cms_tool"),
        arr("topk_tool"), arr("tdigest_len"), arr("kll_len"), arr("bloom_conv"))
    }
    if (bb.hasRemaining) fail(bb.position, s"${bb.remaining} trailing bytes")
    groups
  }

  /** Reads and decodes chunk `pid`'s checkpoint from `dir`. A checksum
    * mismatch reported by the filesystem (Hadoop's local and distributed
    * filesystems keep one) is the same corruption as one found by decoding.
    */
  def readCheckpoint(fs: FileSystem, dir: Path, pid: Int): Seq[PartitionSketches] = {
    val path = checkpointPath(dir, pid)
    val in = fs.open(path)
    val bytes =
      try in.readAllBytes()
      catch {
        case e: ChecksumException => throw new CorruptCheckpointException(path.toString,
          e.getPos, s"filesystem checksum: ${e.getMessage}", e)
      } finally in.close()
    decodeCkpt(bytes, pid, path.toString)
  }

  /** The exact DataFrame stage 1 maps over — also used to pin the planned
    * partition count into the manifest (resume correctness depends on the
    * split layout, not just the file list).
    */
  def plannedInput(spark: SparkSession, cfg: Config): DataFrame = {
    val input = scan(spark, cfg)
    val len = if (input.columns.contains("text_len")) col("text_len") else length(col("text"))
    val scanned = input.select(col("conv_id"), col("role"),
      coalesce(col("tool"), lit("")).as("tool"), len.cast("double").as("text_len"))
    if (cfg.checkpointChunks > 0) scanned.coalesce(cfg.checkpointChunks) else scanned
  }

  /** Stage 1: sketch every partition of the planned input `df`,
    * checkpointing each one atomically; partitions already checkpointed are
    * skipped (resume).
    *
    * It consumes `InternalRow`s straight off the physical plan
    * (`queryExecution.toRdd`) and hashes each `UTF8String`'s backing memory
    * in place — the same zero-materialization hot path as the native
    * flagship aggregate. Nothing is allocated per row: no encoder tuple, no
    * byte[] copies, no String decode (role and tool are interned through
    * the shared [[graft.sketch.agg.ToolInterner]], which decodes each
    * distinct pattern once per partition).
    */
  def buildPartitionSketches(spark: SparkSession, cfg: Config, df: DataFrame): Unit = {
    val ckptDir = cfg.checkpointDir
    val hadoopConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val c = cfg

    df.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val fs = FileSystem.get(new URI(ckptDir), hadoopConf.value)
      val dir = new Path(ckptDir)
      if (fs.exists(checkpointPath(dir, pid))) Iterator.empty // resumed: already done
      else {
        val t0 = System.nanoTime()
        final class Group {
          val hll = HllSketch(c.hllP)
          val cms = CmsSketch(c.cmsWidth, c.cmsDepth)
          val topk = SpaceSavingSketch(c.topKCapacity)
          val td = TDigestSketch.fast(c.tdigestCentroids)
          val kll = KllSketch(c.kllK)
          val bloom = BloomSketch(c.bloomWidth, c.bloomDepth)
          var rows = 0L
          val tools = new graft.sketch.agg.ToolInterner
        }
        val groups = mutable.HashMap.empty[String, Group]
        val roles = new graft.sketch.agg.ToolInterner // ~4 distinct values
        rows.foreach { row =>
          // null role groups under "" (coalesce in plannedInput only guards
          // tool; a null role must not NPE the resumable deliverable)
          val role = if (row.isNullAt(1)) "" else roles.intern(row.getUTF8String(1))
          val g = groups.getOrElseUpdate(role, new Group)
          if (!row.isNullAt(0)) {
            val conv = row.getUTF8String(0)
            g.hll.addUtf8Memory(conv.getBaseObject, conv.getBaseOffset, conv.numBytes)
            val h = graft.sketch.core.Fnv1a.fnv1aUtf8MemoryOrSentinel(
              conv.getBaseObject, conv.getBaseOffset, conv.numBytes)
            if (h != graft.sketch.core.Fnv1a.NonAscii) g.bloom.addFnv(h.toInt)
            else g.bloom.add(conv.toString)
          }
          val tool = row.getUTF8String(2)
          if (tool.numBytes > 0) {
            val t = g.tools.intern(tool)
            g.cms.add(t); g.topk.add(t)
          }
          if (!row.isNullAt(3)) {
            val textLen = row.getDouble(3)
            g.td.add(textLen)
            g.kll.add(textLen)
          }
          g.rows += 1
        }
        val wallMs = (System.nanoTime() - t0) / 1000000
        val out = groups.toSeq.sortBy(_._1).map { case (role, g) =>
          PartitionSketches(pid, role, g.rows, wallMs,
            g.hll.toBytes, g.cms.toBytes, g.topk.toBytes,
            g.td.toBytes, g.kll.toBytes, g.bloom.toBytes)
        }
        writeCheckpoint(fs, dir, pid, out)
        Iterator.empty: Iterator[Int]
      }
    }.count() // force execution
  }

  /** Level-1 bucket width of the tree merge: checkpoints with id in
    * [k*fanout, (k+1)*fanout) fold together (in id order) into bucket
    * partial k, then level 2 folds the bucket partials (in bucket order)
    * into one state per role. At the 100 TB envelope (~10k checkpoint
    * chunks) this is ~160 level-1 tasks of ≤64 checkpoints each — bounded
    * task memory, one shuffle of bucket partials. t-digest merge is greedy
    * clustering, so the tree's shape changes its bytes: the fanout is a
    * fixed constant, not a tuning knob.
    */
  val MergeFanout = 64

  /** One role's running merge. States are decoded from bytes, merged in the
    * order `add` is called and encoded again by `result`, so a bucket
    * partial crosses the shuffle as bytes, exactly as a checkpoint does.
    */
  private final class RoleFold(first: MergedRole) {
    private val role = first.state.role
    private var rows = first.state.rows_seen
    private var wallMs = first.state.wall_ms
    private val hll = HllSketch.fromBytes(first.state.hll_conv)
    private val cms = CmsSketch.fromBytes(first.state.cms_tool)
    private val topk = SpaceSavingSketch.fromBytes(first.state.topk_tool)
    private val td = TDigestSketch.fromBytes(first.state.tdigest_len)
    private val kll = KllSketch.fromBytes(first.state.kll_len)
    private val bloom = BloomSketch.fromBytes(first.state.bloom_conv)
    private val lineage = mutable.ArrayBuffer(first.lineage: _*)

    def add(m: MergedRole): Unit = {
      val r = m.state
      rows += r.rows_seen
      wallMs = math.max(wallMs, r.wall_ms)
      hll.mergeInPlace(HllSketch.fromBytes(r.hll_conv))
      cms.mergeInPlace(CmsSketch.fromBytes(r.cms_tool))
      topk.mergeInPlace(SpaceSavingSketch.fromBytes(r.topk_tool))
      td.mergeInPlace(TDigestSketch.fromBytes(r.tdigest_len))
      kll.mergeInPlace(KllSketch.fromBytes(r.kll_len))
      bloom.unionInPlace(BloomSketch.fromBytes(r.bloom_conv))
      lineage ++= m.lineage
    }

    def result(id: Int): MergedRole = MergedRole(
      PartitionSketches(id, role, rows, wallMs, hll.toBytes, cms.toBytes,
        topk.toBytes, td.toBytes, kll.toBytes, bloom.toBytes),
      lineage.toSeq)
  }

  /** The merge's one fold, used at both levels: each role's states merge in
    * the order they arrive, which the caller fixes — checkpoint id order at
    * level 1, bucket order at level 2.
    */
  private def foldByRole(items: Iterator[MergedRole], id: Int): Iterator[MergedRole] = {
    val folds = mutable.LinkedHashMap.empty[String, RoleFold]
    items.foreach { m =>
      folds.get(m.state.role) match {
        case Some(f) => f.add(m)
        case None => folds(m.state.role) = new RoleFold(m)
      }
    }
    folds.valuesIterator.map(_.result(id))
  }

  /** Level 2 sends every bucket partial of a role to one task. */
  private final class RolePartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case (role: String, _) => Math.floorMod(role.hashCode, numPartitions)
    }
  }

  /** Stage 2: the two-level tree merge of checkpoints 0 until `parts` in
    * `dir` (the north star's "treeReduce-style two-level merge"). Level 1 is
    * one task per bucket of `fanout` ids; it opens the bucket's checkpoints
    * by id, in ascending order, and folds each role. Level 2 shuffles the
    * bucket partials by role into `level2Partitions` tasks, sorted by
    * bucket, and folds them in bucket order. The fold order is fixed by checkpoint id and bucket id, never by
    * arrival order, so the merged bytes are a pure function of the
    * checkpoint contents: t-digest merge is order-sensitive, and a resumed
    * run must reproduce its uninterrupted twin bit for bit.
    */
  def treeMerge(spark: SparkSession, dir: String, parts: Int, level2Partitions: Int,
      fanout: Int = MergeFanout): RDD[MergedRole] = {
    val sc = spark.sparkContext
    val hadoopConf = new SerializableConfiguration(sc.hadoopConfiguration)
    val buckets = (parts + fanout - 1) / fanout
    sc.parallelize(0 until buckets, math.max(buckets, 1))
      .flatMap { b =>
        val fs = FileSystem.get(new URI(dir), hadoopConf.value)
        val ids = (b * fanout until math.min((b + 1) * fanout, parts)).iterator
        val groups = ids.flatMap(readCheckpoint(fs, new Path(dir), _)).map(g =>
          MergedRole(g, Seq(ChunkLineage(g.partition_id, g.rows_seen, g.wall_ms))))
        foldByRole(groups, b).map(m => ((m.state.role, b), m))
      }
      .repartitionAndSortWithinPartitions(new RolePartitioner(level2Partitions))
      .mapPartitions(it => foldByRole(it.map(_._2), -1))
  }

  /** The job's result columns, read out of the merged per-role states;
    * `carry` columns ride along after them.
    */
  def finalResultsFrom(merged: DataFrame, carry: Column*): DataFrame = {
    val fns = SketchFunctions.default
    merged.select(Seq(
      col("role"), col("rows_seen").as("turns"),
      fns.hllCardinality(col("hll_conv")).as("approx_distinct_convs"),
      fns.topk(col("topk_tool"), lit(5)).as("top5_tools"),
      fns.cmsQuery(col("cms_tool"), lit("search")).as("cms_search"),
      fns.cmsQuery(col("cms_tool"), lit("bash")).as("cms_bash"),
      fns.tdigestQuantile(col("tdigest_len"), lit(0.5)).as("len_p50_td"),
      fns.tdigestQuantile(col("tdigest_len"), lit(0.99)).as("len_p99_td"),
      fns.kllQuantile(col("kll_len"), lit(0.5)).as("len_p50_kll"),
      fns.bloomSize(col("bloom_conv")).as("bloom_conv_size")) ++ carry: _*)
  }

  /** Input manifest: guards resume against a changed input/filter AND a
    * changed split layout. Checkpoint files are keyed by partition id, so a
    * resume is only valid when the planner maps the same rows to the same
    * ids — which requires the same file list, the same split-sizing configs,
    * and the same planned partition count. Any drift invalidates.
    *
    * Returns the manifest text plus the planned partition count it embeds
    * (the count is returned as a value — never re-parsed out of the string,
    * so the completeness check below cannot silently fail open on format
    * drift).
    */
  private def manifest(spark: SparkSession, cfg: Config, planned: DataFrame): (String, Int) = {
    val files = planned.inputFiles.sorted
    val h = files.foldLeft(17L)((acc, f) => acc * 31 + f.hashCode)
    val conf = spark.sessionState.conf
    val split = s"maxPartitionBytes=${conf.filesMaxPartitionBytes} " +
      s"openCost=${conf.filesOpenCostInBytes} " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}"
    val parts = planned.queryExecution.toRdd.getNumPartitions
    (s"files=${files.length} hash=$h from=${cfg.dateFrom} to=${cfg.dateTo} " +
      s"chunks=${cfg.checkpointChunks} parts=$parts $split", parts)
  }

  /** Require checkpoints 0..N-1 all present before merging — a missing file
    * (lost task, manual deletion) must fail loudly, not drop rows silently.
    */
  def verifyCheckpointsComplete(fs: FileSystem, dir: Path, expectedParts: Int): Unit = {
    val present = fs.listStatus(dir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("part-") && n.endsWith(".ckpt") =>
        val id = n.stripPrefix("part-").stripSuffix(".ckpt")
        require(id.nonEmpty && id.forall(_.isDigit), s"foreign file in checkpoint dir: $n")
        id.toInt
      }.toSet
    val missing = (0 until expectedParts).filterNot(present.contains)
    require(missing.isEmpty,
      s"checkpoint set incomplete: ${missing.size}/$expectedParts missing " +
        s"(first: ${missing.take(5).mkString(",")})")
    require(present.size == expectedParts,
      s"unexpected checkpoint ids beyond 0..${expectedParts - 1}: " +
        s"${present.filter(_ >= expectedParts).take(5).mkString(",")}")
  }

  /** Runs both stages and writes the per-role results to `cfg.output`, with
    * a `_metrics.json` sidecar of stage times and per-checkpoint lineage.
    * Returns the result rows as a local DataFrame.
    */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = FileSystem.get(new URI(cfg.checkpointDir), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(cfg.checkpointDir)
    fs.mkdirs(dir)
    val manifestPath = new Path(dir, "_manifest")
    val planned = plannedInput(spark, cfg)
    val (m, plannedParts) = manifest(spark, cfg, planned)
    if (fs.exists(manifestPath)) {
      val prev = {
        val in = fs.open(manifestPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      if (prev != m) { // input changed — checkpoints invalid
        fs.delete(dir, true); fs.mkdirs(dir)
      }
    }
    if (!fs.exists(manifestPath)) {
      val os = fs.create(manifestPath, true)
      os.write(m.getBytes(UTF_8)); os.close()
    }

    val t0 = System.nanoTime()
    buildPartitionSketches(spark, cfg, planned)
    verifyCheckpointsComplete(fs, dir, plannedParts)
    val t1 = System.nanoTime()
    // one job: both merge levels and the readouts; only the small result
    // rows and their lineage reach the driver
    val merged = spark.createDataFrame(treeMerge(spark, cfg.checkpointDir, plannedParts,
        spark.sparkContext.defaultParallelism))
      .select(col("state.*"), col("lineage"))
    val withLineage = finalResultsFrom(merged, col("lineage"))
    val rows = withLineage.collect().sortBy(_.getString(0))
    val schema = StructType(withLineage.schema.init)
    val res = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq.init)): _*), schema)
    res.write.mode("overwrite").parquet(cfg.output)
    val t2 = System.nanoTime()

    // lineage + metrics sidecar: per checkpoint, rows summed over its roles
    val lineage = rows.flatMap(_.getSeq[Row](schema.length))
      .map(l => (l.getInt(0), l.getLong(1), l.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (pid, ls) => (pid, ls.map(_._2).sum, ls.map(_._3).max) }
    val totalRows = lineage.map(_._2).sum
    val json = {
      val parts = lineage.map { case (pid, rowsSeen, wallMs) =>
        s"""{"partition_id":$pid,"rows_seen":$rowsSeen,"wall_ms":$wallMs}"""
      }.mkString("[", ",", "]")
      s"""{"stage1_sec":${(t1 - t0) / 1e9},"stage2_sec":${(t2 - t1) / 1e9},""" +
        s""""rows":$totalRows,"throughput_rows_per_sec":${totalRows / ((t2 - t0) / 1e9)},""" +
        s""""partitions":$parts}"""
    }
    val os = fs.create(new Path(cfg.output, "_metrics.json"), true)
    os.write(json.getBytes(UTF_8)); os.close()
    res
  }

  def main(args: Array[String]): Unit = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val cfg = Config(
      input = m("--input"),
      output = m("--output"),
      checkpointDir = m("--checkpoint"),
      dateFrom = m.get("--date-from"),
      dateTo = m.get("--date-to"))
    val spark = SparkSession.builder()
      .appName("SketchJob")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.kryo.registrator", "graft.sketch.agg.GraftKryoRegistrator")
      .getOrCreate()
    try run(spark, cfg).show(10, truncate = false)
    finally spark.stop()
  }
}
