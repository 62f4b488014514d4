package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the last stage
  * of the dedup pipeline: LSH candidate pairs form a graph whose
  * components are duplicate clusters, and each cluster keeps one
  * canonical document.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Every vertex starts labeled with its own id; each round every
  * vertex takes the minimum of its own label and its neighbors'
  * labels, then shortcuts through its label's label (path halving —
  * labels are themselves vertex ids, so one self-join follows the
  * pointer chain two hops at a time). Neighbor propagation alone
  * converges in O(component diameter) rounds; the shortcut drops that
  * to O(log diameter) — a 1000-vertex chain labels in ~10 rounds, not
  * 1000. LSH dup clusters are near-cliques (diameter 2-3) where one
  * or two rounds suffice; the doubling is what makes adversarial
  * chain-shaped graphs safe under the same [[maxIters]] cap (hit it
  * and the algorithm logs and returns the partial labeling rather
  * than looping unbounded).
  *
  * Scale design (100 TB): the loop touches ONLY the edge list and the
  * vertices that appear in it — candidate pairs, a vanishing fraction
  * of the corpus; singleton documents never enter the iteration. Each
  * round is one shuffle keyed on vertex id (edges join labels, groupBy
  * min). A [[Materialize.cut]] after each round keeps the plan one size
  * instead of a nested-join tree re-analyzed every round; the final
  * round, which the labels read, is released by the enclosing
  * [[Materialize.statement]].
  */
object ConnectedComponents {

  /** Edge ceiling (UNDIRECTED pairs) for the driver-local union-find
    * fast path of [[run]]. The distributed loop costs ~5 driver jobs
    * PER ROUND (join, groupBy, pointer-jump join, checkpoint,
    * convergence count — each a full round-trip through planning and
    * scheduling), which dominates wall time whenever the edge list is
    * small — and the dedup graph is ALWAYS small relative to its
    * corpus (star-contracted candidate pairs, a vanishing fraction of
    * rows; singletons never enter). Below the ceiling the symmetrized
    * edge list is collected once as flat primitive long arrays
    * (≤ 2·ceiling pairs — 64 MB at the default; the union-find map
    * adds up to ~270 MB transient when every id is distinct, far less
    * on star-contracted dedup graphs) and labeled by union-find in
    * milliseconds: 3 jobs total instead of ~5·rounds, and the label
    * table comes back as a LocalRelation the consumer joins by
    * broadcast with no shuffle. Past the ceiling the loop runs
    * unchanged — the 100 TB escape hatch. Tunable via
    * `spark.graft.cc.localMaxEdges` (0 disables the fast path). */
  val LocalMaxEdgesDefault: Long = 2000000L

  private def localMaxEdges(df: DataFrame): Long =
    df.sparkSession.conf
      .getOption("spark.graft.cc.localMaxEdges").map(_.toLong)
      .getOrElse(LocalMaxEdgesDefault)

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Component label per vertex: (id, lbl) where lbl is the minimum
    * vertex id reachable from `id`. Input edges are undirected pairs
    * in columns `srcCol`/`dstCol`; vertices not present in any edge
    * are absent from the output (they are their own singleton
    * component — callers coalesce). Small graphs (≤
    * [[LocalMaxEdgesDefault]] pairs, integral ids) are labeled by a
    * driver-local union-find — identical labels (the min-id-per-
    * component fixpoint is algorithm-independent), a fraction of the
    * driver round-trips; larger graphs run the distributed loop. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20): DataFrame = {
    val cap = localMaxEdges(edges)
    val integral = isIntegral(edges.schema(srcCol).dataType) &&
      isIntegral(edges.schema(dstCol).dataType)
    if (cap <= 0L || !integral) return runCounted(edges, srcCol, dstCol, maxIters)._1
    val sym = symmetrized(edges, srcCol, dstCol)
    // one job decides size AND nulls, before anything is collected:
    // null vertex ids never join in the distributed loop; keep that
    // exact behavior by running it rather than special-casing here
    val stats = sym.agg(count(lit(1)), count(col("id")), count(col("nbr")))
      .collect()(0)
    val n = stats.getLong(0)
    val hasNulls = stats.getLong(1) != n || stats.getLong(2) != n
    if (n > 2L * cap || hasNulls) return loopFrom(sym, maxIters)._1
    // collect as FLAT PRIMITIVE ARRAYS (one per partition, pairs
    // interleaved), not boxed Rows. Driver budget at the default cap:
    // ≤ 4M directed rows → ≤ 64 MB of long[] plus the open-addressing
    // map below (≤ 2^24 slots · 16 B ≈ 270 MB transient worst case
    // when every id is distinct; dedup graphs with star contraction
    // sit far lower). Production drivers with less heap lower
    // `spark.graft.cc.localMaxEdges` proportionally.
    val idType = sym.schema("id").dataType // src/dst's COMMON (widened) type
    val packed: Array[Array[Long]] = sym
      .select(col("id").cast(org.apache.spark.sql.types.LongType),
        col("nbr").cast(org.apache.spark.sql.types.LongType))
      .rdd.mapPartitions { it =>
        var a = new Array[Long](1024); var m = 0
        it.foreach { r =>
          if (m + 2 > a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
          a(m) = r.getLong(0); a(m + 1) = r.getLong(1); m += 2
        }
        Iterator.single(java.util.Arrays.copyOf(a, m))
      }.collect()
    Materialize.release(sym)
    // union-find with path halving; union by min id, so every root is
    // its component's minimum — exactly the loop's converged label
    val parent = new LongLongMap(1 << 16)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    packed.foreach { arr =>
      var i = 0
      while (i < arr.length) {
        val a = arr(i); val b = arr(i + 1)
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
        i += 2
      }
    }
    // ids came FROM the widened column, so narrowing back is exact
    def back(v: Long): Any = idType match {
      case org.apache.spark.sql.types.ByteType => v.toByte
      case org.apache.spark.sql.types.ShortType => v.toShort
      case org.apache.spark.sql.types.IntegerType => v.toInt
      case _ => v
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    parent.foreachKey { id =>
      out.add(org.apache.spark.sql.Row(back(id), back(find(id))))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("lbl", idType)))
    edges.sparkSession.createDataFrame(out, schema)
  }

  /** Minimal open-addressing long→long map (linear probing, power-of-
    * two capacity, grow at 2/3 load) for the union-find fast path: two
    * primitive arrays instead of java.util.HashMap's boxed
    * Long→Long entries (~6× smaller, no per-op allocation). Key
    * Long.MinValue is stored via a sidecar slot so the sentinel never
    * collides with a real vertex id. */
  private final class LongLongMap(initialCapacity: Int) {
    private val Free = Long.MinValue
    private var mask = initialCapacity - 1
    private var keys = Array.fill(initialCapacity)(Free)
    private var vals = new Array[Long](initialCapacity)
    private var n = 0
    private var hasMin = false
    private var minVal = 0L

    def size: Int = n + (if (hasMin) 1 else 0)

    private def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mask
      while (keys(i) != Free && keys(i) != k) i = (i + 1) & mask
      i
    }

    def getOrDefault(k: Long, dflt: Long): Long = {
      if (k == Free) return if (hasMin) minVal else dflt
      val i = idx(k)
      if (keys(i) == k) vals(i) else dflt
    }

    def put(k: Long, v: Long): Unit = {
      if (k == Free) { hasMin = true; minVal = v; return }
      val i = idx(k)
      if (keys(i) != k) {
        keys(i) = k; vals(i) = v; n += 1
        if (n.toLong * 3 > keys.length.toLong * 2) grow()
      } else vals(i) = v
    }

    def putIfAbsent(k: Long, v: Long): Unit = {
      if (k == Free) { if (!hasMin) { hasMin = true; minVal = v }; return }
      val i = idx(k)
      if (keys(i) != k) {
        keys(i) = k; vals(i) = v; n += 1
        if (n.toLong * 3 > keys.length.toLong * 2) grow()
      }
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      mask = mask * 2 + 1
      keys = Array.fill(ok.length * 2)(Free)
      vals = new Array[Long](ok.length * 2)
      var j = 0
      while (j < ok.length) {
        if (ok(j) != Free) { val i = idx(ok(j)); keys(i) = ok(j); vals(i) = ov(j) }
        j += 1
      }
    }

    def foreachKey(f: Long => Unit): Unit = {
      if (hasMin) f(Free)
      var j = 0
      while (j < keys.length) { if (keys(j) != Free) f(keys(j)); j += 1 }
    }
  }

  /** The symmetrized, deduplicated, eagerly cut edge list the loop (and
    * the fast path's size check) runs on. */
  private def symmetrized(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    Materialize.cut(edges.select(col(srcCol).as("id"), col(dstCol).as("nbr"))
      .union(edges.select(col(dstCol).as("id"), col(srcCol).as("nbr")))
      .distinct())

  /** [[run]] plus the number of propagation rounds executed — the
    * observable the O(log d) pointer-jumping claim is checked on (a
    * chain graph labels in ~log₂(diameter) rounds, not O(diameter)). */
  def runCounted(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20): (DataFrame, Int) =
    loopFrom(symmetrized(edges, srcCol, dstCol), maxIters)

  private def loopFrom(sym: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // each round's cut (id, lbl, and from round 1 the pre-round `old`)
    // is released once the next round is materialized, so at most two
    // label-set copies are resident at a time
    var labels = Materialize.cut(sym.select(col("id")).distinct()
      .withColumn("lbl", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // min over each vertex's neighborhood labels, one keyed shuffle
      val nbrMin = sym
        .join(labels.select(col("id").as("nbr"), col("lbl").as("nlbl")), "nbr")
        .groupBy("id").agg(min(col("nlbl")).as("nmin"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer jumping: follow lbl → lbl(lbl). The parent's label is
      // ≤ the parent id by construction, so the shortcut only lowers.
      // The pre-round label rides along as `old`, so the convergence
      // check below is a filter over the checkpointed round output —
      // not another join against the previous labels.
      val next = Materialize.cut(stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("plbl")),
          Seq("lbl"), "left")
        .select(col("id"), col("old"),
          coalesce(col("plbl"), col("lbl")).as("lbl")))
      changed = next.filter(col("lbl") =!= col("old")).count()
      Materialize.release(labels) // next is materialized; prior round's blocks are dead
      labels = next
      iter += 1
    }
    Materialize.release(sym) // the loop is over; the edge list is no longer needed
    if (changed > 0)
      System.err.println(
        s"[graft] connected components hit maxIters=$maxIters still changing " +
          s"($changed labels); returning partial labeling")
    (labels.select(col("id"), col("lbl")), iter)
  }
}
