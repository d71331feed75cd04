package graft.ann

import java.io.{DataInputStream, DataOutputStream}
import scala.collection.mutable

/** Pure-Scala HNSW graph: one shard of the distributed ANN index.
  *
  * Implements the Hierarchical Navigable Small World algorithm from the
  * public Malkov & Yashunin paper (arXiv:1603.09320): exponentially
  * decaying layer assignment, greedy descent on upper layers, best-first
  * ef-bounded search on the base layer, and the paper's Algorithm 4
  * neighbor-selection heuristic. Parameter semantics and defaults mirror
  * the reference engine (m=16, ef_construction=128, ef=64 —
  * lantern_hnsw/src/hnsw/options.h:14-25); the graph itself is an
  * original implementation, not a port of usearch.
  *
  * One Hnsw instance = one index SHARD built inside one Spark partition
  * (the distributed build is [[AnnIndex.build]]'s mapPartitions; the
  * reference's external-index protocol — build.c:527-587 — is exactly
  * this job model minus the socket).
  *
  * Deterministic: the level RNG is seeded per shard, and insertion order
  * is the partition's row order.
  */
final class Hnsw(
    val dim: Int,
    val metric: Metric,
    val m: Int,
    val efConstruction: Int,
    seed: Long,
    val pq: Option[graft.pq.Codebook] = None) extends Serializable {

  require(m >= 2 && m <= 128, s"m must be in [2,128], got $m")
  // reference cap: options.h:15 (2000 dims). A hamming index stores the
  // [[HammingView]] sign view — one component per BIT of the int
  // vector — so its cap is the same 2000 logical words x 32 bits.
  private val maxDim = if (metric == Metric.Hamming) 2000 * 32 else 2000
  require(dim >= 1 && dim <= maxDim,
    s"dim must be in [1,$maxDim], got $dim")
  require(pq.forall(_.dim == dim), "codebook dimension mismatch")
  require(pq.isEmpty || metric == Metric.L2Sq,
    "PQ-in-index supports the l2sq metric")

  private val mMax0 = 2 * m
  private val levelMult = 1.0 / math.log(m.toDouble)
  private val rng = new java.util.Random(seed)

  // Node storage. Internal ids are dense 0..n-1 in insertion order.
  // With PQ-in-index (reference `WITH (pq=true)`, build.c:498-501) only
  // the byte codes are kept and distances run over centroid tables.
  private[ann] val ids = mutable.ArrayBuffer.empty[Long]
  private[ann] val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  // squared norms, cached per node for the cos metric (recomputing both
  // norms on every pair evaluation dominates cos builds); Kernels.dot of
  // a vector with itself is the norm the cosine loop accumulates, so
  // results are bit-identical to Metric.Cos.dist
  private[ann] val norms = new DoubleVec
  private[ann] val codes = mutable.ArrayBuffer.empty[Array[Byte]]
  private[ann] val levels = mutable.ArrayBuffer.empty[Int]
  // neighbors(node)(layer) = growable primitive adjacency list (an
  // ArrayBuffer[Int] would box every neighbor id - measurable GC drag
  // on million-node shard builds)
  private[ann] val neighbors = mutable.ArrayBuffer.empty[Array[IntVec]]
  private[ann] var entryPoint: Int = -1
  private[ann] var topLevel: Int = -1

  def size: Int = ids.length

  // Packed sign bits per node for the hamming metric: the sign view
  // ([[HammingView]]) carries one logical BIT per float component, so
  // [[Kernels.hamming]] over 64-bit words computes the float walk's
  // distance ~64x narrower.
  private[ann] val hbits = mutable.ArrayBuffer.empty[Array[Long]]

  /** node-to-node distance: the [[Kernels]] loop, or the codebook's
    * symmetric centroid tables. */
  @inline private def distNN(i: Int, j: Int): Double =
    if (pq.isEmpty) {
      if (metric eq Metric.Cos)
        Kernels.cosFromParts(Kernels.dot(vecs(i), vecs(j)), norms(i), norms(j))
      else if (metric eq Metric.Hamming) Kernels.hamming(hbits(i), hbits(j)).toDouble
      else Kernels.l2sq(vecs(i), vecs(j))
    }
    else {
      val sym = pq.get.symmetricTable
      val a = codes(i); val b = codes(j)
      var acc = 0.0
      var s = 0
      while (s < a.length) {
        acc += sym(s)(a(s) & 0xff)(b(s) & 0xff)
        s += 1
      }
      acc
    }

  @inline private def distQN(q: Array[Float], adc: Array[Array[Double]],
      qNorm: Double, qBits: Array[Long], n: Int): Double =
    if (pq.isEmpty) {
      if (metric eq Metric.Cos)
        Kernels.cosFromParts(Kernels.dot(q, vecs(n)), qNorm, norms(n))
      else if (metric eq Metric.Hamming) Kernels.hamming(qBits, hbits(n)).toDouble
      else Kernels.l2sq(q, vecs(n))
    }
    else {
      val cs = codes(n)
      var acc = 0.0
      var s = 0
      while (s < cs.length) {
        acc += adc(s)(cs(s) & 0xff)
        s += 1
      }
      acc
    }

  private def randomLevel(): Int =
    (-math.log(rng.nextDouble() max Double.MinPositiveValue) * levelMult).toInt

  /** Per-thread reusable search workspace: the heaps, visited set, and
    * entry/result arrays would otherwise be reallocated for every
    * insert/search. Thread-local because cached shards serve concurrent
    * searches. */
  private final class Workspace {
    val candidates = new DoubleIntHeap(min = true)
    val results = new DoubleIntHeap(min = false)
    val visited = new java.util.BitSet()
    // layer-search entry points and drained (ascending) results
    var epIds = new Array[Int](256)
    var epDists = new Array[Double](256)
    var epN = 0
    var outIds = new Array[Int](256)
    var outDists = new Array[Double](256)
    def ensureEp(n: Int): Unit = if (epIds.length < n) {
      epIds = java.util.Arrays.copyOf(epIds, n * 2)
      epDists = java.util.Arrays.copyOf(epDists, n * 2)
    }
    def ensureOut(n: Int): Unit = if (outIds.length < n) {
      outIds = java.util.Arrays.copyOf(outIds, n * 2)
      outDists = java.util.Arrays.copyOf(outDists, n * 2)
    }
    def seed(id: Int, dist: Double): Unit = {
      epIds(0) = id; epDists(0) = dist; epN = 1
    }
    // neighbor-prune scratch (bounded by mMax0 + 1)
    var pruneIds = new Array[Int](64)
    var pruneDists = new Array[Double](64)
    var pruneKept = new Array[Int](64)
    def ensurePrune(n: Int): Unit = if (pruneIds.length < n) {
      pruneIds = java.util.Arrays.copyOf(pruneIds, n * 2)
      pruneDists = java.util.Arrays.copyOf(pruneDists, n * 2)
      pruneKept = java.util.Arrays.copyOf(pruneKept, n * 2)
    }
  }
  @transient private lazy val workspace: ThreadLocal[Workspace] =
    ThreadLocal.withInitial(() => new Workspace)

  /** Best-first search of one layer (paper Algorithm 2) using a
    * node-distance function. Seeds from `ws.ep*[0, ws.epN)`; drains the
    * result heap into `ws.out*` sorted ASCENDING by distance (the heap
    * pops farthest-first, filled backward) and returns the count.
    * Fully primitive — this is the hot loop of both build and search,
    * so no per-candidate boxing and no separate sort downstream.
    *
    * `accept` filters which nodes may enter the RESULT set; rejected
    * nodes (tombstones) still join the candidate frontier, so the
    * search navigates through them — the reference's scan behavior
    * (deleted labels skipped at scan, scan.c:294-300) without
    * disconnecting the graph. With fewer than `ef` accepted results the
    * loop keeps expanding, degrading gracefully toward an exhaustive
    * component walk under heavy deletion (vacuum is the real answer
    * there). */
  private def searchLayerInto(ws: Workspace, distTo: Int => Double,
      ef: Int, layer: Int, accept: Int => Boolean = null): Int = {
    val visited = ws.visited
    visited.clear()
    val candidates = ws.candidates // nearest-first
    val results = ws.results // farthest-first, cap ef
    candidates.clear()
    results.clear()
    var s = 0
    while (s < ws.epN) {
      val n = ws.epIds(s)
      if (!visited.get(n)) {
        visited.set(n)
        val d = ws.epDists(s)
        candidates.push(d, n)
        if (accept == null || accept(n)) results.push(d, n)
      }
      s += 1
    }
    var break = false
    while (!break && candidates.nonEmpty) {
      val cd = candidates.topKey
      val c = candidates.topValue
      candidates.pop()
      if (results.size >= ef && cd > results.topKey) {
        break = true // nearest candidate is worse than worst result
      } else {
        val adj = neighbors(c)
        if (layer < adj.length) {
          val ns = adj(layer)
          var i = 0
          while (i < ns.length) {
            val e = ns(i)
            if (!visited.get(e)) {
              visited.set(e)
              val d = distTo(e)
              if (results.size < ef || d < results.topKey) {
                candidates.push(d, e)
                if (accept == null || accept(e)) {
                  results.push(d, e)
                  if (results.size > ef) results.pop()
                }
              }
            }
            i += 1
          }
        }
      }
    }
    val n = results.size
    ws.ensureOut(n)
    var i = n - 1
    while (i >= 0) {
      ws.outIds(i) = results.topValue
      ws.outDists(i) = results.topKey
      results.pop()
      i -= 1
    }
    n
  }

  /** Stable insertion sort of parallel (id, dist) arrays by ascending
    * dist (prune lists are at most mMax0+1 long and nearly sorted;
    * stability keeps tie order = append order, matching the previous
    * sortBy semantics exactly). */
  private def sortByDist(ids: Array[Int], dists: Array[Double],
      n: Int): Unit = {
    var i = 1
    while (i < n) {
      val d = dists(i)
      val id = ids(i)
      var j = i - 1
      while (j >= 0 && dists(j) > d) {
        dists(j + 1) = dists(j)
        ids(j + 1) = ids(j)
        j -= 1
      }
      dists(j + 1) = d
      ids(j + 1) = id
      i += 1
    }
  }

  /** Neighbor-selection heuristic (paper Algorithm 4) over
    * ALREADY-ASCENDING candidate arrays (insert hot path: no sort, no
    * tuples) — scan candidates nearest-first, keep one only if it is closer to
    * the anchor node than to every already-kept neighbor (graph
    * diversity), then backfill. Writes kept internal ids into `keptIds`
    * and returns the kept count. */
  private def selectFromSorted(cIds: Array[Int], cDists: Array[Double],
      n: Int, max: Int, keptIds: Array[Int]): Int = {
    var keptN = 0
    var i = 0
    while (i < n && keptN < max) {
      val c = cIds(i)
      val dq = cDists(i)
      var diverse = true
      var j = 0
      while (diverse && j < keptN) {
        if (distNN(c, keptIds(j)) < dq) diverse = false
        j += 1
      }
      if (diverse) { keptIds(keptN) = c; keptN += 1 }
      i += 1
    }
    // backfill with pruned candidates if under-full (paper's keepPruned)
    if (keptN < max) {
      val diverseN = keptN
      var i2 = 0
      while (i2 < n && keptN < max) {
        val c = cIds(i2)
        var seen = false
        var j = 0
        while (!seen && j < diverseN) { // only diverse picks can repeat
          if (keptIds(j) == c) seen = true
          j += 1
        }
        if (!seen) { keptIds(keptN) = c; keptN += 1 }
        i2 += 1
      }
    }
    keptN
  }

  def insert(id: Long, vec: Array[Float]): Unit = {
    Kernels.checkDims(vec.length, dim)
    val level = randomLevel()
    val node = size
    ids += id
    if (pq.isEmpty) {
      vecs += vec
      if (metric eq Metric.Cos) norms += Kernels.dot(vec, vec)
      else if (metric eq Metric.Hamming) hbits += Kernels.packSigns(vec)
    } else codes += pq.get.quantize(vec)
    levels += level
    neighbors += Array.fill(level + 1)(new IntVec)

    if (entryPoint < 0) { entryPoint = node; topLevel = level; return }

    val ws = workspace.get()
    val d0 = distNN(node, _: Int)
    var epId = entryPoint
    var epDist = d0(entryPoint)
    var l = topLevel
    while (l > level) { // greedy descent above the node's level
      var changed = true
      while (changed) {
        changed = false
        val adj = neighbors(epId)
        if (l < adj.length) {
          val ns = adj(l)
          var i = 0
          while (i < ns.length) {
            val d = d0(ns(i))
            if (d < epDist) { epDist = d; epId = ns(i); changed = true }
            i += 1
          }
        }
      }
      l -= 1
    }

    ws.seed(epId, epDist)
    val keptIds = new Array[Int](m)
    l = math.min(level, topLevel)
    while (l >= 0) {
      val n = searchLayerInto(ws, d0, efConstruction, l)
      val maxConn = if (l == 0) mMax0 else m
      val keptN = selectFromSorted(ws.outIds, ws.outDists, n, m, keptIds)
      var ki = 0
      while (ki < keptN) {
        val nb = keptIds(ki)
        neighbors(node)(l) += nb
        val nbAdj = neighbors(nb)(l)
        nbAdj += node
        if (nbAdj.length > maxConn) { // prune with the same heuristic
          val pn = nbAdj.length
          ws.ensurePrune(pn)
          var pi = 0
          while (pi < pn) {
            ws.pruneIds(pi) = nbAdj(pi)
            ws.pruneDists(pi) = distNN(nb, nbAdj(pi))
            pi += 1
          }
          sortByDist(ws.pruneIds, ws.pruneDists, pn)
          val kn = selectFromSorted(ws.pruneIds, ws.pruneDists, pn,
            maxConn, ws.pruneKept)
          nbAdj.clear()
          var pj = 0
          while (pj < kn) { nbAdj += ws.pruneKept(pj); pj += 1 }
        }
        ki += 1
      }
      // next layer's entry points = this layer's full result set
      ws.ensureEp(n)
      System.arraycopy(ws.outIds, 0, ws.epIds, 0, n)
      System.arraycopy(ws.outDists, 0, ws.epDists, 0, n)
      ws.epN = n
      l -= 1
    }
    if (level > topLevel) { topLevel = level; entryPoint = node }
  }

  /** Top-k approximate nearest neighbors: (externalId, dist), ascending.
    * Search quality parameter `ef` >= k (reference default 64, max 400).
    * With PQ-in-index distances are ADC approximations (scan.c:75-81);
    * callers re-rank against raw vectors if exactness matters.
    * `skip` drops tombstoned external ids from the result set while
    * still navigating through their nodes (scan.c:294-300 semantics). */
  def search(q: Array[Float], k: Int, ef: Int,
      skip: Long => Boolean = null): Seq[(Long, Double)] = {
    if (size == 0) return Seq.empty
    Kernels.checkDims(q.length, dim)
    val adc = if (pq.isEmpty) null else pq.get.adcTable(q)
    val qNorm = if (pq.isEmpty && (metric eq Metric.Cos)) Kernels.dot(q, q) else 0.0
    val qBits =
      if (pq.isEmpty && (metric eq Metric.Hamming)) Kernels.packSigns(q) else null
    val dq = distQN(q, adc, qNorm, qBits, _: Int)
    if (ef >= size) {
      // Exhaustive request (the contract queries' exact-oracle mode and
      // any ef >= shard-count caller): the graph walk is pure overhead
      // here — its beam/visited bookkeeping costs ~4x a flat pass and
      // its completeness depends on graph connectivity, while a direct
      // scan of every node is guaranteed-exact with the same
      // (dist, externalId) order. Measured 4.4x on the sf1 decade's
      // worst scaler (q_ann_hamming_rewrite).
      return (0 until size).iterator
        .filter(n => skip == null || !skip(ids(n)))
        .map(n => (n, dq(n)))
        .toIndexedSeq
        .sortBy(x => (x._2, ids(x._1)))
        .take(k)
        .map { case (nd, d) => (ids(nd), d) }
    }
    val ws = workspace.get()
    var epId = entryPoint
    var epDist = dq(entryPoint)
    var l = topLevel
    while (l > 0) { // greedy descent navigates tombstones too: no accept
      ws.seed(epId, epDist)
      if (searchLayerInto(ws, dq, 1, l) > 0) {
        epId = ws.outIds(0)
        epDist = ws.outDists(0)
      }
      l -= 1
    }
    val accept: Int => Boolean =
      if (skip == null) null else n => !skip(ids(n))
    ws.seed(epId, epDist)
    val n = searchLayerInto(ws, dq, math.max(ef, k), 0, accept)
    // drained output is distance-ascending; re-sort with the external-id
    // tiebreak for deterministic results (small: at most max(ef, k) rows)
    (0 until n).map(i => (ws.outIds(i), ws.outDists(i)))
      .sortBy(x => (x._2, ids(x._1)))
      .take(k)
      .map { case (nd, d) => (ids(nd), d) }
  }

  /** Rough in-memory footprint of this shard graph (vectors/codes +
    * adjacency + ids), used by [[ShardCache]]'s byte-budget eviction. */
  lazy val estimatedBytes: Long = {
    val vecBytes =
      if (pq.isEmpty) vecs.length.toLong * dim * 4
      else codes.length.toLong * (if (codes.isEmpty) 0 else codes.head.length)
    val adjBytes = neighbors.iterator
      .map(layers => layers.iterator.map(_.length.toLong * 4 + 32).sum)
      .sum
    val normBytes = norms.length.toLong * 8
    val hbitBytes = hbits.length.toLong * (((dim + 63) >>> 6) * 8 + 16)
    vecBytes + adjBytes + normBytes + hbitBytes + size.toLong * 16 + 1024
  }

  /** Serialize to a stream (shard file format v2). */
  def write(out: DataOutputStream): Unit = {
    out.writeInt(Hnsw.Magic)
    out.writeInt(2) // version
    out.writeInt(dim)
    out.writeInt(metric.id)
    out.writeInt(m)
    out.writeInt(efConstruction)
    out.writeBoolean(pq.isDefined)
    pq.foreach { cb =>
      out.writeInt(cb.subvectors)
      out.writeInt(cb.clusters)
      out.writeInt(cb.subDim)
      cb.centroids.foreach(_.foreach(_.foreach(out.writeFloat)))
    }
    out.writeInt(size)
    out.writeInt(entryPoint)
    out.writeInt(topLevel)
    var n = 0
    while (n < size) {
      out.writeLong(ids(n))
      out.writeInt(levels(n))
      if (pq.isEmpty) {
        val v = vecs(n)
        var i = 0
        while (i < dim) { out.writeFloat(v(i)); i += 1 }
      } else {
        out.write(codes(n))
      }
      val adj = neighbors(n)
      var l = 0
      while (l < adj.length) {
        out.writeInt(adj(l).length)
        adj(l).foreach(out.writeInt)
        l += 1
      }
      n += 1
    }
  }

  /** Graph invariant check (analog of the reference's validate_index
    * job, lantern_hnsw/src/hnsw/validate_index.c): neighbor ids in
    * range, no self-loops, degrees within caps, entry point level =
    * topLevel, every node reachable from the entry point at layer 0.
    * Returns the list of violations (empty = valid). */
  def validate(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (size == 0) return errs.toSeq
    if (levels(entryPoint) != topLevel)
      errs += s"entry point level ${levels(entryPoint)} != topLevel $topLevel"
    var n = 0
    while (n < size) {
      val adj = neighbors(n)
      if (adj.length != levels(n) + 1)
        errs += s"node $n: ${adj.length} layers but level ${levels(n)}"
      var l = 0
      while (l < adj.length) {
        val cap = if (l == 0) mMax0 else m
        if (adj(l).length > cap)
          errs += s"node $n layer $l: degree ${adj(l).length} > cap $cap"
        adj(l).foreach { e =>
          if (e < 0 || e >= size) errs += s"node $n layer $l: neighbor $e out of range"
          else if (e == n) errs += s"node $n layer $l: self-loop"
          else if (levels(e) < l) errs += s"node $n layer $l: neighbor $e has level ${levels(e)} < layer"
        }
        l += 1
      }
      n += 1
    }
    // base-layer reachability from the entry point
    val seen = new java.util.BitSet(size)
    val stack = mutable.ArrayDeque(entryPoint)
    seen.set(entryPoint)
    while (stack.nonEmpty) {
      val c = stack.removeLast()
      neighbors(c)(0).foreach { e =>
        if (!seen.get(e)) { seen.set(e); stack.append(e) }
      }
    }
    if (seen.cardinality() < size)
      errs += s"only ${seen.cardinality()} of $size nodes reachable at layer 0"
    errs.toSeq
  }
}

object Hnsw {
  val Magic = 0x47484e57 // "GHNW"

  def read(in: DataInputStream): Hnsw = {
    require(in.readInt() == Magic, "not a graft HNSW shard file")
    require(in.readInt() == 2, "unsupported shard format version")
    val dim = in.readInt()
    val metric = Metric.fromId(in.readInt())
    val m = in.readInt()
    val efc = in.readInt()
    val pq: Option[graft.pq.Codebook] =
      if (!in.readBoolean()) None
      else {
        val sub = in.readInt(); val clusters = in.readInt()
        val sd = in.readInt()
        Some(graft.pq.Codebook(Array.fill(sub, clusters, sd)(in.readFloat())))
      }
    val count = in.readInt()
    val ep = in.readInt()
    val top = in.readInt()
    val h = new Hnsw(dim, metric, m, efc, seed = 0L, pq)
    var n = 0
    while (n < count) {
      val id = in.readLong()
      val level = in.readInt()
      if (pq.isEmpty) {
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim) { v(i) = in.readFloat(); i += 1 }
        h.vecs += v
        if (metric eq Metric.Cos) h.norms += Kernels.dot(v, v)
        else if (metric eq Metric.Hamming) h.hbits += Kernels.packSigns(v)
      } else {
        val cs = new Array[Byte](pq.get.subvectors)
        in.readFully(cs)
        h.codes += cs
      }
      h.ids += id
      h.levels += level
      val adj = Array.fill(level + 1)(new IntVec)
      var l = 0
      while (l <= level) {
        val cnt = in.readInt()
        var j = 0
        while (j < cnt) { adj(l) += in.readInt(); j += 1 }
        l += 1
      }
      h.neighbors += adj
      n += 1
    }
    h.entryPoint = ep
    h.topLevel = top
    h
  }
}

/** Growable primitive int array: the adjacency-list cell of the HNSW
  * graph (append-ordered; iteration order = append order, which the
  * shard file format and determinism tests rely on). */
private[graft] final class IntVec extends Serializable {
  private var arr = new Array[Int](8)
  private var n = 0
  def length: Int = n
  def apply(i: Int): Int = arr(i)
  def +=(x: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = x
    n += 1
  }
  def clear(): Unit = n = 0
  def foreach(f: Int => Unit): Unit = {
    var i = 0
    while (i < n) { f(arr(i)); i += 1 }
  }
}

/** Growable primitive double array (the cos norm cache). */
private[graft] final class DoubleVec extends Serializable {
  private var arr = new Array[Double](8)
  private var n = 0
  def length: Int = n
  def apply(i: Int): Double = arr(i)
  def +=(x: Double): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = x
    n += 1
  }
}

/** Binary heap over (double key, int value) pairs with no boxing —
  * the candidate/result queues of the HNSW hot loop. */
private[graft] final class DoubleIntHeap(min: Boolean) {
  private var keys = new Array[Double](64)
  private var vals = new Array[Int](64)
  private var n = 0

  @inline private def better(a: Double, b: Double): Boolean =
    if (min) a < b else a > b

  def size: Int = n
  def nonEmpty: Boolean = n > 0
  def topKey: Double = keys(0)
  def topValue: Int = vals(0)
  def clear(): Unit = n = 0

  def push(k: Double, v: Int): Unit = {
    if (n == keys.length) {
      keys = java.util.Arrays.copyOf(keys, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
    }
    var i = n
    n += 1
    while (i > 0 && better(k, keys((i - 1) / 2))) {
      keys(i) = keys((i - 1) / 2)
      vals(i) = vals((i - 1) / 2)
      i = (i - 1) / 2
    }
    keys(i) = k
    vals(i) = v
  }

  def pop(): Unit = {
    n -= 1
    val k = keys(n)
    val v = vals(n)
    var i = 0
    var done = false
    while (!done) {
      var best = i
      val l = 2 * i + 1
      val r = 2 * i + 2
      if (l < n && better(keys(l), if (best == i) k else keys(best))) best = l
      if (r < n && better(keys(r), if (best == i) k else keys(best))) best = r
      if (best == i) done = true
      else {
        keys(i) = keys(best)
        vals(i) = vals(best)
        i = best
      }
    }
    keys(i) = k
    vals(i) = v
  }

  def toSeq: Seq[(Int, Double)] =
    (0 until n).map(i => (vals(i), keys(i)))
}
