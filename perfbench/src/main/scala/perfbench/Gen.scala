package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every workload input is a pure function of
  * the seed and the sizes, so two runs with one seed see identical
  * inputs; [[Fingerprint]] proves it in the run record. */
object Gen {

  /** Index in [0, n) skewed towards 0: u^power concentrates mass near
    * the low end, so a few indices receive most picks (hubs). */
  private def skewed(r: SplittableRandom, n: Int, power: Double): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), power)).toInt)

  /** Seeded permutation of 0 until n (Fisher-Yates). */
  private def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  final case class Edges(src: Array[Long], dst: Array[Long]) {
    def size: Int = src.length
    def pairs: Iterator[(Long, Long)] = src.iterator.zip(dst.iterator)
  }

  /** Directed graph on vertices 0 until n with `m` distinct non-loop
    * edges. Every vertex first gets `minOut` edges to uniform targets, so
    * the graph is one low-diameter strongly connected core and the
    * propagation depth barely moves with the seed; the remaining edges
    * have power-law sources (hub out-degree) and half power-law, half
    * uniform destinations, so in-degree is skewed too. Hub ids are
    * scattered by a permutation, so min-id labels do not start at hubs. */
  def skewedGraph(seed: Long, n: Int, m: Int, minOut: Int = 2): Edges = {
    val r = new SplittableRandom(seed)
    val perm = permutation(r, n)
    val seen = mutable.HashSet.empty[Long]
    val src = new Array[Long](m)
    val dst = new Array[Long](m)
    var k = 0
    for (v <- 0 until n; _ <- 0 until minOut) {
      var placed = false
      while (!placed) {
        val d = r.nextInt(n)
        if (d != v && seen.add(v.toLong * n + d)) { src(k) = v; dst(k) = d; k += 1; placed = true }
      }
    }
    while (k < m) {
      val s = perm(skewed(r, n, 2.2))
      val d = if (r.nextBoolean()) perm(skewed(r, n, 1.6)) else r.nextInt(n)
      if (s != d && seen.add(s.toLong * n + d)) {
        src(k) = s; dst(k) = d; k += 1
      }
    }
    Edges(src, dst)
  }

  /** Community graph for the store: vertices 0 until n split into
    * consecutive communities of skewed size, with edges only inside a
    * community, so the weak components are the communities. Each
    * community is first made connected by a path; further edges start
    * at a uniformly drawn vertex and end at a skewed pick inside its
    * community (a few members collect most in-edges). */
  final case class Communities(edges: Edges, community: Array[Int], starts: Array[Int]) {
    def bounds(c: Int): (Int, Int) =
      (starts(c), if (c + 1 < starts.length) starts(c + 1) else community.length)
  }

  def communityGraph(seed: Long, n: Int, m: Int, minSize: Int, maxSize: Int): Communities = {
    val r = new SplittableRandom(seed)
    val starts = mutable.ArrayBuffer.empty[Int]
    var at = 0
    while (at < n) {
      starts += at
      at = math.min(n, at + minSize + skewed(r, maxSize - minSize + 1, 2.0))
    }
    val community = new Array[Int](n)
    val cs = Communities(Edges(Array.empty, Array.empty), community, starts.toArray)
    for (c <- cs.starts.indices) {
      val (lo, hi) = cs.bounds(c)
      (lo until hi).foreach(v => community(v) = c)
    }
    val seen = mutable.HashSet.empty[Long]
    val src = mutable.ArrayBuffer.empty[Long]
    val dst = mutable.ArrayBuffer.empty[Long]
    def add(s: Int, d: Int): Unit =
      if (s != d && src.size < m && seen.add(s.toLong * n + d)) { src += s; dst += d }
    for (c <- cs.starts.indices) {
      val (lo, hi) = cs.bounds(c)
      (lo + 1 until hi).foreach(v => add(v - 1, v))
    }
    var guard = 0L
    while (src.size < m && guard < 100L * m) {
      guard += 1
      val s = r.nextInt(n)
      val (lo, hi) = cs.bounds(community(s))
      add(s, lo + skewed(r, hi - lo, 1.8))
    }
    require(src.size == m, s"community graph too dense: placed ${src.size} of $m edges")
    cs.copy(edges = Edges(src.toArray, dst.toArray))
  }

  /** Synthetic vocabulary word for index i. */
  def word(i: Int): String = "w" + Integer.toString(i, 36)

  final case class Doc(id: Long, text: String, family: Long)

  /** Text corpus with planted near-duplicates. A fraction of documents
    * are edits of an earlier base document (each word replaced with the
    * given edit rate) or exact copies of one; `family` is the base
    * document's id, so two documents are a planted pair when they share
    * a family with another member. Ids run from `firstId`; bases for
    * edits are drawn from `pool` and from this batch. */
  def corpus(
      seed: Long, firstId: Long, count: Int, vocab: Int,
      editRates: Seq[Double], nearDupShare: Double, copyShare: Double,
      pool: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    val out = mutable.ArrayBuffer.empty[Doc]
    def base(): Doc = {
      val total = pool.size + out.size
      val i = r.nextInt(total)
      if (i < pool.size) pool(i) else out(i - pool.size)
    }
    var k = 0
    while (k < count) {
      val id = firstId + k
      val u = r.nextDouble()
      val doc =
        if ((pool.nonEmpty || out.nonEmpty) && u < copyShare) {
          val b = base(); Doc(id, b.text, b.family)
        } else if ((pool.nonEmpty || out.nonEmpty) && u < copyShare + nearDupShare) {
          val b = base()
          val rate = editRates(r.nextInt(editRates.size))
          val words = b.text.split(" ").map { w =>
            if (r.nextDouble() < rate) word(skewed(r, vocab, 1.5)) else w
          }
          Doc(id, words.mkString(" "), b.family)
        } else {
          val len = 30 + r.nextInt(31)
          Doc(id, Array.fill(len)(word(skewed(r, vocab, 1.5))).mkString(" "), id)
        }
      out += doc
      k += 1
    }
    out.toIndexedSeq
  }

  /** Vectors drawn around `centers` with Gaussian noise. */
  def vectors(seed: Long, firstId: Long, count: Int, centers: Array[Array[Float]],
      noise: Double): IndexedSeq[(Long, Array[Float])] = {
    val r = new SplittableRandom(seed)
    val g = new java.util.Random(r.nextLong())
    (0 until count).map { k =>
      val c = centers(r.nextInt(centers.length))
      (firstId + k, c.map(x => (x + noise * g.nextGaussian()).toFloat))
    }
  }

  def centers(seed: Long, count: Int, dim: Int): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(count)(Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat))
  }
}

/** Input fingerprint: row count plus XOR of per-row hashes — order
  * independent, so it identifies the input set however it is produced. */
final class Fingerprint {
  private var rows = 0L
  private var xor = 0L
  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
  def add(parts: Long*): Unit = {
    var h = 0x9e3779b97f4a7c15L
    parts.foreach(p => h = mix(h ^ p) + 0x632be59bd9b4e019L)
    rows += 1; xor ^= h
  }
  def addText(id: Long, text: String): Unit =
    add(id, text.hashCode.toLong, text.length.toLong)
  def addVector(id: Long, v: Array[Float]): Unit =
    add(id +: v.map(x => java.lang.Float.floatToIntBits(x).toLong).toSeq: _*)
  def render: String = f"$rows:${xor}%016x"
}
