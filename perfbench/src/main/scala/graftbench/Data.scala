package graftbench

import java.io.File

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.TranscriptGen

/** Seeded inputs, generated once per (seed, size, generator source) into
  * `dataDir` and reused by later runs. `key` is a hash of the generators'
  * source files, so a changed generator never reuses an old table.
  * Generation never runs inside a timed region.
  */
object Data {
  /** The planted hot head: conversations 0..7 with 20k turns each. */
  val HotConvs = 8
  val HotTurns = 20000

  /** The seed selects one of this many disjoint blocks of conversation
    * indices, so a checkout generates at most this many tables.
    */
  val Blocks = 4

  /** Date-partitioned transcripts: the hot head plus `convs` conversations
    * from the seed's block of indices, laid out as `TranscriptGen.write`
    * lays out its table.
    */
  def transcripts(spark: SparkSession, dataDir: File, key: String, seed: Long, convs: Int)
      : String = {
    val block = java.lang.Math.floorMod(seed, Blocks.toLong)
    val dir = new File(dataDir, s"transcripts-b$block-c$convs-$key")
    if (!new File(dir, "_SUCCESS").exists()) {
      import spark.implicits._
      val base = 1000000L * (1L + block)
      val tmp = new File(dataDir, s"${dir.getName}.tmp")
      spark.range(0L, HotConvs + convs.toLong, 1L, 16)
        .flatMap { i =>
          val j: Long = i
          val idx = if (j < HotConvs) j else base + j - HotConvs
          TranscriptGen.genConv(idx, HotConvs, HotTurns)
        }
        .withColumn("ts_date", to_date(col("ts")))
        .withColumn("text_len", length(col("text")))
        .repartition(16, col("ts_date"))
        .write.mode(SaveMode.Overwrite).partitionBy("ts_date").parquet(tmp.getPath)
      Files.replace(tmp, dir)
    }
    dir.getPath
  }

  /** Exact counts of a transcripts table, computed once and kept next to
    * it: `rows`, `convs` (distinct conv_id) and `convs.<role>`.
    */
  def transcriptStats(spark: SparkSession, path: String): Map[String, Long] = {
    val f = new File(path, "_perfbench_stats.properties")
    val p = new java.util.Properties()
    if (f.exists()) {
      val in = new java.io.FileInputStream(f)
      try p.load(in) finally in.close()
    } else {
      val df = spark.read.parquet(path)
      val all = df.agg(count(lit(1)), countDistinct(col("conv_id"))).head()
      p.setProperty("rows", all.getLong(0).toString)
      p.setProperty("convs", all.getLong(1).toString)
      df.groupBy("role").agg(countDistinct("conv_id")).collect().foreach { r =>
        p.setProperty(s"convs.${r.getString(0)}", r.getLong(1).toString)
      }
      val tmp = new File(path, "_perfbench_stats.properties.tmp")
      val out = new java.io.FileOutputStream(tmp)
      try p.store(out, "exact counts of this table") finally out.close()
      require(tmp.renameTo(f), s"cannot write $f")
    }
    p.stringPropertyNames().toArray(Array.empty[String]).map(k => k -> p.getProperty(k).toLong)
      .toMap
  }

  /** The `documents` fixture's vocabulary: 30 words, no others. */
  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(' ')
  private val Langs = Array("en", "zh", "de", "es", "fr")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** `documents.parquet` for the near-dup queries, made the way the
    * `documents` fixture is made: doc ids 0 until n; each text is 10 to 99
    * words drawn uniformly from `Vocab`; `lang` is `en` with weight 0.4 and
    * each other language with 0.15; `source` is `src<doc_id mod 20>`;
    * `n_chars` is the text's length. Then n/20 documents, chosen without
    * repetition, are replaced by a near duplicate: the text of an original
    * drawn with repetition from the rest, plus `" dup"`. Returns the
    * directory the queries read, the planted (smaller id, larger id) pairs
    * and the texts.
    */
  def documents(spark: SparkSession, dataDir: File, key: String, seed: Long, n: Int)
      : (String, Seq[(Long, Long)], Seq[String]) = {
    val rng = new scala.util.Random(seed)
    val texts = Array.fill(n)(
      Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" "))
    val dups = rng.shuffle((0 until n).toVector).take(n / 20)
    val others = ((0 until n).toSet -- dups).toVector.sorted
    val planted = dups.map { d =>
      val orig = others(rng.nextInt(others.size))
      texts(d) = texts(orig) + " dup"
      (math.min(orig, d).toLong, math.max(orig, d).toLong)
    }
    val docs = texts.indices.map { i =>
      val r = rng.nextDouble()
      val lang = if (r < 0.4) "en" else Langs(1 + math.min(3, ((r - 0.4) / 0.15).toInt))
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val dir = new File(dataDir, s"documents-s$seed-n$n-$key")
    val table = new File(dir, "documents.parquet")
    if (!new File(table, "_SUCCESS").exists()) {
      import spark.implicits._
      val tmp = new File(dir, "documents.parquet.tmp")
      docs.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
      Files.replace(tmp, table)
    }
    (dir.getPath, planted, texts.toSeq)
  }

  /** Shape figures of a document corpus that decide the prefix join's work,
    * as `TextFunctions.shingleHashes` (lower-cased character 5-grams) sees
    * it: distinct shingles over the corpus, mean shingles per document, the
    * mean pairwise Jaccard, and document pairs at Jaccard >= 0.3 and >= 0.8.
    * The `documents` fixture's figures are in perfbench/README.md.
    */
  def corpusShape(texts: Seq[String]): Seq[(String, Double)] = {
    val sets = texts.map { t =>
      val lo = t.toLowerCase(java.util.Locale.ROOT)
      (0 to lo.length - 5).map(i => lo.substring(i, i + 5)).toSet
    }
    val ids = sets.flatten.distinct.zipWithIndex.toMap
    val bits = sets.map { s =>
      val b = new java.util.BitSet(ids.size); s.foreach(g => b.set(ids(g))); b
    }
    var sum = 0.0
    var moderate = 0L
    var near = 0L
    for (i <- bits.indices; j <- i + 1 until bits.size) {
      val and = bits(i).clone().asInstanceOf[java.util.BitSet]
      and.and(bits(j))
      val inter = and.cardinality()
      val jac = inter.toDouble / (sets(i).size + sets(j).size - inter)
      sum += jac
      if (jac >= 0.3) moderate += 1
      if (jac >= 0.8) near += 1
    }
    val pairs = bits.size.toDouble * (bits.size - 1) / 2
    Seq("docs" -> texts.size.toDouble, "distinct_shingles" -> ids.size.toDouble,
      "shingles_per_doc" -> sets.map(_.size).sum.toDouble / sets.size,
      "jaccard_mean" -> sum / pairs, "pairs_j30" -> moderate.toDouble,
      "pairs_j80" -> near.toDouble)
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Moves a finished `tmp` directory into place, replacing `dst`. */
  def replace(tmp: File, dst: File): Unit = {
    delete(dst)
    dst.getParentFile.mkdirs()
    require(tmp.renameTo(dst), s"cannot move $tmp to $dst")
  }
}
