package graftbench

import scala.reflect.ClassTag

import graft.sketch._

/** Values drawn from a workload's own input for the kernel layer:
  * `keys` feed HLL, `items` (null = absent) feed CMS and Space-Saving,
  * `values` feed t-digest and KLL, and `group` (non-decreasing) splits the
  * rows into the small per-group sketches that merge/encode/decode use.
  */
final case class Sample(keys: Array[String], items: Array[String], values: Array[Double],
    group: Array[Int])

/** Per-call cost of graft's public sketch kernels (`add`, `mergeInPlace`,
  * `toBytes`, `fromBytes`) on a workload sample, with the flagship build's
  * sketch sizes. Each figure is the median over repetitions after one
  * discarded warm-up repetition.
  */
object Kernels {
  private val Reps = 7

  private def medianNs(perRep: Int)(f: => Unit): Double = {
    f
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / perRep
    }
    Stats.median(ts)
  }

  def measure(s: Sample): Map[String, Double] = {
    val n = s.keys.length
    val itemIdx = s.items.indices.filter(s.items(_) != null).toArray
    val out = Map.newBuilder[String, Double]

    out += "sketch.hll.add_ns" -> medianNs(n) {
      val h = HllSketch(); var i = 0; while (i < n) { h.add(s.keys(i)); i += 1 }
    }
    out += "sketch.cms.add_ns" -> medianNs(itemIdx.length) {
      val c = CmsSketch(8192, 5); itemIdx.foreach(i => c.add(s.items(i)))
    }
    out += "sketch.topk.add_ns" -> medianNs(itemIdx.length) {
      val t = SpaceSavingSketch(); itemIdx.foreach(i => t.add(s.items(i)))
    }
    out += "sketch.tdigest.add_ns" -> medianNs(n) {
      val t = TDigestSketch.fast(); var i = 0; while (i < n) { t.add(s.values(i)); i += 1 }
    }
    out += "sketch.kll.add_ns" -> medianNs(n) {
      val k = KllSketch(); var i = 0; while (i < n) { k.add(s.values(i)); i += 1 }
    }
    out += "sketch.row_ns" -> medianNs(n) {
      val h = HllSketch(); val c = CmsSketch(8192, 5); val t = SpaceSavingSketch()
      val td = TDigestSketch.fast(); val k = KllSketch()
      var i = 0
      while (i < n) {
        h.add(s.keys(i))
        val it = s.items(i)
        if (it != null) { c.add(it); t.add(it) }
        td.add(s.values(i)); k.add(s.values(i))
        i += 1
      }
    }

    // per-group sketches: the many-small-buffers regime
    val bounds = (0 +: (1 until n).filter(i => s.group(i) != s.group(i - 1)) :+ n)
      .sliding(2).map { case Seq(a, b) => (a, b) }.toArray
    def groupsOf[S: ClassTag](mk: => S)(add: (S, Int) => Unit): Array[S] = bounds.map { case (a, b) =>
      val sk = mk; var i = a; while (i < b) { add(sk, i); i += 1 }; sk
    }
    def codec[S: ClassTag](name: String, sketches: Array[S], mk: => S, enc: S => Array[Byte],
        dec: Array[Byte] => S, merge: (S, S) => Unit): Unit = {
      val m = sketches.length
      val bytes = sketches.map(enc)
      out += s"sketch.$name.encode_ns" -> medianNs(m)(sketches.foreach(enc))
      out += s"sketch.$name.decode_ns" -> medianNs(m)(bytes.foreach(dec))
      out += s"sketch.$name.merge_ns" -> medianNs(m) {
        val acc = mk; sketches.foreach(merge(acc, _))
      }
      out += s"sketch.$name.bytes" -> bytes.map(_.length.toDouble).sum / m
    }
    codec[HllSketch]("hll", groupsOf(HllSketch())((h, i) => h.add(s.keys(i))),
      HllSketch(), _.toBytes, HllSketch.fromBytes, (a, b) => a.mergeInPlace(b))
    codec[KllSketch]("kll", groupsOf(KllSketch())((k, i) => k.add(s.values(i))),
      KllSketch(), _.toBytes, KllSketch.fromBytes, (a, b) => a.mergeInPlace(b))
    codec[TDigestSketch]("tdigest", groupsOf(TDigestSketch.fast())((t, i) => t.add(s.values(i))),
      TDigestSketch.fast(), _.toBytes, TDigestSketch.fromBytes, (a, b) => a.mergeInPlace(b))
    codec[SpaceSavingSketch]("topk", groupsOf(SpaceSavingSketch()) { (t, i) =>
        if (s.items(i) != null) t.add(s.items(i))
      }, SpaceSavingSketch(), _.toBytes, SpaceSavingSketch.fromBytes,
      (a, b) => a.mergeInPlace(b))
    out.result()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
