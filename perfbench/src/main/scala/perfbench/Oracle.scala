package perfbench

import scala.collection.mutable

/** Driver-side reference answers, computed on the benchmark's own copy
  * of the inputs with plain Scala — no Spark and no engine code — so a
  * wrong engine result counts as a failure, never as a fast timing. */
object Oracle {

  /** Min-id weak components: id -> smallest id in its component, for
    * every vertex in `vertices` (isolated ones label themselves). */
  def components(vertices: Iterable[Long], edges: Iterator[(Long, Long)]): mutable.HashMap[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    vertices.foreach(v => parent(v) = v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = mutable.HashMap.empty[Long, Long]
    parent.keys.foreach(v => out(v) = find(v))
    out
  }

  /** Strongly connected components by Tarjan's algorithm (iterative),
    * each labelled with its smallest member id. */
  def scc(vertices: Array[Long], edges: Iterator[(Long, Long)]): mutable.HashMap[Long, Long] = {
    val idx = mutable.HashMap.empty[Long, Int]
    vertices.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val n = vertices.length
    val adjB = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (a, b) => adjB(idx(a)) += idx(b) }
    val adj = adjB.map(_.toArray)
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = mutable.Stack.empty[Int]
    val label = new Array[Long](n)
    var counter = 0
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    for (root <- 0 until n if index(root) < 0) {
      var depth = 0
      callV(0) = root; callE(0) = 0
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack(root) = true
      while (depth >= 0) {
        val v = callV(depth)
        if (callE(depth) < adj(v).length) {
          val w = adj(v)(callE(depth))
          callE(depth) += 1
          if (index(w) < 0) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack(w) = true
            depth += 1; callV(depth) = w; callE(depth) = 0
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members += w }
            val m = members.map(vertices).min
            members.foreach(x => label(x) = m)
          }
          depth -= 1
          if (depth >= 0) { val u = callV(depth); low(u) = math.min(low(u), low(v)) }
        }
      }
    }
    val out = mutable.HashMap.empty[Long, Long]
    for (i <- 0 until n) out(vertices(i)) = label(i)
    out
  }

  /** Power-iteration PageRank with the uniform dangling-mass correction:
    * rank' = (1-d)/N + d·(dangling mass)/N + d·Σ rank(u)/outdeg(u).
    * Starts from `start` (uniform when empty), renormalized to sum 1,
    * and stops after `maxIterations` or when the largest change falls
    * below `tolerance`. */
  def pageRank(
      vertices: Array[Long], edges: Iterator[(Long, Long)],
      damping: Double, maxIterations: Int, tolerance: Option[Double],
      start: collection.Map[Long, Double] = Map.empty): (Map[Long, Double], Int) = {
    val n = vertices.length
    val idx = mutable.HashMap.empty[Long, Int]
    vertices.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val es = edges.map { case (a, b) => (idx(a), idx(b)) }.toArray
    val od = new Array[Int](n)
    es.foreach { case (a, _) => od(a) += 1 }
    var rank = Array.tabulate(n)(i => start.getOrElse(vertices(i), 1.0 / n))
    val tot = rank.sum
    rank = rank.map(_ / tot)
    var it = 0
    var done = false
    while (it < maxIterations && !done) {
      var dMass = 0.0
      for (i <- 0 until n if od(i) == 0) dMass += rank(i)
      val in = new Array[Double](n)
      es.foreach { case (a, b) => in(b) += rank(a) / od(a) }
      val base = (1 - damping) / n + damping * dMass / n
      val next = in.map(x => base + damping * x)
      done = tolerance.exists(t => next.indices.map(i => math.abs(next(i) - rank(i))).max < t)
      rank = next
      it += 1
    }
    (vertices.indices.map(i => vertices(i) -> rank(i)).toMap, it)
  }

  /** Vertex-centric supersteps with the engine's Pregel contract: only
    * vertices whose state changed in the previous superstep send; a
    * recipient's new state is `update(aggregate(messages), old)`;
    * vertices without messages keep their state; the loop stops when no
    * state changed or after `maxIterations`. `send` lists (from, to)
    * message routes. Returns final states and supersteps run. */
  def pregel(
      vertices: Array[Long], routes: Array[(Long, Long)], maxIterations: Int,
      aggregate: Array[Long] => Long, update: (Long, Long) => Long): (Map[Long, Long], Int) = {
    val n = vertices.length
    val idx = vertices.zipWithIndex.toMap
    // in-neighbour lists in CSR form: senders of every recipient
    val deg = new Array[Int](n + 1)
    routes.foreach { case (_, to) => deg(idx(to) + 1) += 1 }
    for (i <- 1 to n) deg(i) += deg(i - 1)
    val from = new Array[Int](routes.length)
    val fill = deg.clone()
    routes.foreach { case (f, to) => val t = idx(to); from(fill(t)) = idx(f); fill(t) += 1 }
    val state = vertices.clone()
    var changed = Array.fill(n)(true)
    var i = 0
    var converged = false
    val buf = new Array[Long](routes.length max 1)
    while (i < maxIterations && !converged) {
      val next = new Array[Boolean](n)
      val newState = state.clone()
      var any = false
      var w = 0
      while (w < n) {
        var k = 0
        var e = deg(w)
        while (e < deg(w + 1)) {
          val u = from(e)
          if (changed(u)) { buf(k) = state(u); k += 1 }
          e += 1
        }
        if (k > 0) {
          val nw = update(aggregate(java.util.Arrays.copyOf(buf, k)), state(w))
          if (nw != state(w)) { newState(w) = nw; next(w) = true; any = true }
        }
        w += 1
      }
      System.arraycopy(newState, 0, state, 0, n)
      changed = next
      i += 1
      converged = !any
    }
    ((0 until n).map(v => vertices(v) -> state(v)).toMap, i)
  }

  /** Most frequent value, ties to the smallest. */
  def mode(xs: Array[Long]): Long = {
    java.util.Arrays.sort(xs)
    var best = xs(0); var bestN = 0
    var i = 0
    while (i < xs.length) {
      var j = i
      while (j < xs.length && xs(j) == xs(i)) j += 1
      if (j - i > bestN) { best = xs(i); bestN = j - i }
      i = j
    }
    best
  }

  /** Message routes of a graph: src -> dst, plus dst -> src when
    * undirected. */
  def routes(edges: Gen.Edges, map: Long => Long, undirected: Boolean): Array[(Long, Long)] = {
    val fwd = edges.pairs.map { case (a, b) => (map(a), map(b)) }.toArray
    if (undirected) fwd ++ fwd.map(_.swap) else fwd
  }

  /** The engine's embedding quantizer: x·1000 rounded half away from zero. */
  def quantize(x: Float): Long = {
    val r = x.toDouble * 1000.0
    if (r >= 0) math.floor(r + 0.5).toLong else math.ceil(r - 0.5).toLong
  }

  /** Exact top-k by quantized dot product, ties to the smaller id,
    * excluding the query's own id. */
  def topK(query: (Long, Array[Long]), items: Iterable[(Long, Array[Long])], k: Int): Seq[Long] = {
    val (qid, qv) = query
    val heap = mutable.PriorityQueue.empty[(Long, Long)](
      Ordering.by[(Long, Long), (Long, Long)] { case (s, id) => (-s, id) })
    items.foreach { case (id, v) =>
      if (id != qid) {
        var s = 0L
        var i = 0
        while (i < v.length) { s += qv(i) * v(i); i += 1 }
        heap.enqueue((s, id))
        if (heap.size > k) heap.dequeue()
      }
    }
    heap.toSeq.sortBy { case (s, id) => (-s, id) }.map(_._2)
  }

  /** Word 3-shingle set of a text, tokenized on single spaces. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size
}
