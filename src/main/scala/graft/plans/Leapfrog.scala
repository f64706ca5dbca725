package graft.plans


import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Worst-case-optimal n-ary equi-join: a Leapfrog Triejoin over a global
  * variable order, distributed in ONE communication round via the
  * Afrati–Ullman "Shares" / HyperCube partitioning scheme.
  *
  * Reference analog: the LFTJ subsystem — `src/joining/join/wcoj/LFTjoin
  * .java:1-423`, `StaticLFTJ.java` (fixed variable order), `LFTJiter.java`
  * (sorted trie iterators), `DynamicLFTJ.java:1-71` (per-slice order
  * adaptation) — which upstream keeps disabled at
  * `src/joining/JoinProcessor.java:67-68`. The reference iterates sorted
  * tries inside a single JVM over its buffer pool; re-expressed
  * Spark-first, the per-cell trie iteration is the same algorithm but the
  * data placement is distributed: the available reduce cells form a grid
  * with one dimension per join variable, each input relation is
  * hash-replicated only along the dimensions of the variables it does NOT
  * contain, and every grid cell runs an independent in-memory leapfrog
  * over its fragment. A binding (v1..vk) can only materialize in the
  * single cell whose coordinates match every variable's hash, so the
  * union of cell outputs is exact with no dedup pass. Per-tuple
  * replication is the product of the missing variables' shares — the
  * communication-optimal one-round layout for cyclic queries (triangles,
  * k-cycles) where every binary-join plan materializes an intermediate
  * strictly larger than the AGM output bound. At cluster scale the grid
  * is sized to the executor count and each cell holds 1/share^|vars(R)|
  * of each relation, so per-cell INPUT memory shrinks as the grid grows;
  * per-cell OUTPUT is never materialized — each cell emits through a lazy
  * iterator, so a dense cell streams its (possibly AGM-bound-sized)
  * result instead of buffering it.
  *
  * Known limitation (inherent to HyperCube): a variable's grid coordinate
  * hashes the single value, so one heavy-hitter VALUE of a variable lands
  * all its tuples in one slice of that dimension — the grid spreads
  * distinct values, not copies of one value. The SQL route
  * (`WcojJoinRule`) counters it from the leaves' `SampleStore` samples: a
  * variable with a dominant value gets share 1, and `autoShares` spends
  * the cell budget on the other dimensions — the hot value's tuples then
  * spread across cells by the OTHER variables' hashes and per-cell load
  * stays near the mean (asserted in WcojRouteSpec).
  *
  * Semantics: set-semantics over the variable columns (the trie collapses
  * duplicate tuples), i.e. the conjunctive-query model of the reference's
  * LFTJ. Variables are Long-typed; rows with a null variable are dropped.
  */
object Leapfrog {

  /** Joins `rels` — each a (frame, variable-names) pair where the named
    * columns exist in the frame — over the global elimination order
    * `varOrder` (must cover exactly the union of the relations' variables).
    * `shares(v)` is the grid side length for variable `v` (default 1);
    * total cells = product of shares.
    *
    * `dynamicOrder = true` is the DynamicLFTJ analog: each grid cell
    * re-derives its own elimination order from the OBSERVED per-cell
    * cardinalities (ascending distinct-count, i.e. most selective variable
    * first) before running its leapfrog — the global order only governs
    * data placement, which is order-independent. `seekCounter`, when set,
    * accumulates the number of binary-search seeks across all cells — the
    * search-effort metric the Dynamic-vs-Static comparison is graded on.
    */
  def join(
      spark: SparkSession,
      rels: Seq[(DataFrame, Seq[String])],
      varOrder: Seq[String],
      shares: Map[String, Int],
      dynamicOrder: Boolean = false,
      seekCounter: Option[LongAccumulator] = None): DataFrame = {
    val vars = varOrder.toArray
    val nVars = vars.length
    val varPos = vars.zipWithIndex.toMap
    require(rels.nonEmpty, "need at least one relation")
    rels.zipWithIndex.foreach { case ((df, vs), i) =>
      require(vs.distinct.size == vs.size,
        s"relation $i lists a duplicate variable: $vs")
      vs.foreach(v => require(df.columns.contains(v),
        s"relation $i has no column '$v' (schema: ${df.columns.mkString(", ")})"))
    }
    require(rels.flatMap(_._2).toSet == vars.toSet,
      "varOrder must cover exactly the variables of the relations")
    require(nVars > 0, "need at least one join variable")
    val shareArr = vars.map(v => math.max(1, shares.getOrElse(v, 1)))
    // row-major strides over the grid
    val stride = new Array[Int](nVars)
    var acc = 1
    var d = nVars - 1
    while (d >= 0) { stride(d) = acc; acc *= shareArr(d); d -= 1 }
    val nCells = acc

    // per relation: its variables sorted by global position (= trie attribute
    // order), and the global positions themselves
    val relVarPos: Array[Array[Int]] =
      rels.map(_._2.map(varPos).sorted.toArray).toArray

    val tagged = rels.zipWithIndex.map { case ((df, _), i) =>
      val rvPos = relVarPos(i)
      val rvCols: Array[Column] = rvPos.map(p => col(vars(p)).cast("long"))
      val freeDims = (0 until nVars).filterNot(rvPos.contains).toArray
      val freeShares = freeDims.map(shareArr)
      val nReplicas = freeShares.product
      val localShares = rvPos.map(shareArr)
      val localStrides = rvPos.map(stride)
      df.select(rvCols.toIndexedSeq: _*).na.drop().rdd.flatMap { row =>
        val tup = Array.tabulate(rvPos.length)(j => row.getLong(j))
        var base = 0
        var j = 0
        while (j < tup.length) {
          base += coordOf(tup(j), localShares(j)) * localStrides(j); j += 1
        }
        val out = new Array[(Int, (Int, Array[Long]))](nReplicas)
        val combo = new Array[Int](freeDims.length)
        var r = 0
        while (r < nReplicas) {
          var cid = base
          var f = 0
          while (f < freeDims.length) { cid += combo(f) * stride(freeDims(f)); f += 1 }
          out(r) = (cid, (i, tup))
          var k = freeDims.length - 1
          while (k >= 0) {
            combo(k) += 1
            if (combo(k) < freeShares(k)) k = -1 else { combo(k) = 0; k -= 1 }
          }
          r += 1
        }
        out
      }
    }

    val nRels = rels.length
    val partitioned = spark.sparkContext.union(tagged).partitionBy(
      new Partitioner {
        override def numPartitions: Int = nCells
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
    val relVarPosLocal = relVarPos // avoid closing over `this`
    val dyn = dynamicOrder
    val acc0 = seekCounter.orNull
    val rows = partitioned.mapPartitions { it =>
      // per-cell INPUT storage is FLAT row-major Long arrays, not one
      // Array[Long] object per tuple: ~2.5x less memory per tuple (no
      // per-tuple object header + pointer), sequential reads in the sort
      // and the binary-search seeks, and far less GC pressure on dense
      // cells (the 1M-edge 4-cycle census measured visibly slower with
      // boxed-tuple buffering)
      val widths = relVarPosLocal.map(_.length)
      val builders = Array.tabulate(nRels)(_ =>
        new scala.collection.mutable.ArrayBuilder.ofLong)
      it.foreach { case (_, (i, tup)) => builders(i) ++= tup }
      val flats: Array[Array[Long]] = Array.tabulate(nRels)(i => builders(i).result())
      if (flats.exists(_.isEmpty)) Iterator.empty
      else {
        // cell elimination order as global positions; identity unless the
        // DynamicLFTJ path re-ranks by observed per-cell cardinality
        val order: Array[Int] =
          if (!dyn) Array.tabulate(nVars)(identity)
          else chooseOrder(nVars, relVarPosLocal, flats)
        val cellPosOf = new Array[Int](nVars)
        order.zipWithIndex.foreach { case (g, p) => cellPosOf(g) = p }
        // per relation: attribute permutation into cell order + re-sort
        // (index sort over the flat buffer, then one gather pass)
        val relVarPosCell = new Array[Array[Int]](nRels)
        val sorted = new Array[Array[Long]](nRels)
        var i = 0
        while (i < nRels) {
          val rv = relVarPosLocal(i)
          val w = widths(i)
          val byCell = rv.indices.sortBy(j => cellPosOf(rv(j))).toArray
          relVarPosCell(i) = byCell.map(j => cellPosOf(rv(j)))
          val flat = flats(i)
          val n = flat.length / w
          val idx = Array.range(0, n)
          sortIndices(idx, flat, w, byCell)
          val out = new Array[Long](flat.length)
          var r = 0
          while (r < n) {
            val src = idx(r) * w
            val dst = r * w
            var j = 0
            while (j < w) { out(dst + j) = flat(src + byCell(j)); j += 1 }
            r += 1
          }
          sorted(i) = out
          i += 1
        }
        // lazy: each cell streams its bindings — nothing output-sized is
        // ever buffered, so a dense cell cannot exhaust executor memory
        new CellLFTJ(nVars, relVarPosCell, sorted, acc0).map { b =>
          val g = new Array[Long](nVars)
          var k = 0
          while (k < nVars) { g(order(k)) = b(k); k += 1 }
          Row.fromSeq(g.toIndexedSeq)
        }
      }
    }
    val schema = StructType(vars.map(v => StructField(v, LongType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Load-minimizing HyperCube grid sizing (the "Shares" optimization of
    * Afrati–Ullman): a cell receives |R| / Π_{v ∈ vars(R)} share(v) tuples
    * of each relation R, so for a fixed processor budget the right grid
    * minimizes the per-cell input load Σ_R |R| / Π_{v ∈ vars(R)} share(v)
    * over all share vectors whose cell count (product) is ≤ `maxCells` —
    * exact discrete enumeration instead of the continuous Lagrangian,
    * fine for the small exponents real grids use (a 1000-cell grid over
    * ≤5 variables is a few hundred candidate vectors). Symmetric inputs
    * get the symmetric grid (triangle at 27 cells → 3×3×3); a dominant
    * relation pulls the splitting onto ITS variables, so the big input is
    * partitioned rather than replicated.
    */
  def autoShares(
      relSizes: Seq[(Seq[String], Long)],
      varOrder: Seq[String],
      maxCells: Int): Map[String, Int] = {
    require(maxCells >= 1, "maxCells must be >= 1")
    val vars = varOrder.toArray
    val n = vars.length
    var best: Array[Int] = Array.fill(n)(1)
    var bestCost = Double.MaxValue
    var bestCells = 1L
    val cur = Array.fill(n)(1)
    def cost(s: Array[Int]): Double =
      relSizes.map { case (vs, sz) =>
        var split = 1.0
        var i = 0
        while (i < n) { if (vs.contains(vars(i))) split *= s(i); i += 1 }
        sz / split
      }.sum
    def rec(d: Int, cells: Long): Unit = {
      if (d == n) {
        val c = cost(cur)
        // prefer lower cost; at equal cost prefer MORE cells (finer grid =
        // smaller per-cell fragments), then lexicographic determinism
        if (c < bestCost - 1e-9
            || (math.abs(c - bestCost) <= 1e-9 && cells > bestCells)) {
          bestCost = c; bestCells = cells; best = cur.clone()
        }
      } else {
        var s = 1
        while (cells * s <= maxCells) {
          cur(d) = s
          rec(d + 1, cells * s)
          s += 1
        }
        cur(d) = 1
      }
    }
    rec(0, 1L)
    vars.zip(best).toMap
  }

  /** Type-general entry point: variables of ANY orderable Spark type.
    * Integral variables run through `join` directly; every other type
    * (string, date, timestamp, decimal, …) is DICTIONARY-ENCODED first —
    * per variable, the distinct values across all relations containing it
    * get distributed surrogate codes (`zipWithUniqueId`, no driver state,
    * no collision risk unlike hashing), each relation joins its column to
    * the code, the Long-domain HyperCube LFTJ runs, and the output decodes
    * the codes back to the original values and types (integral variables,
    * which skip the dictionary, are cast back to their declared input
    * type rather than left at join()'s internal Long widening). Encode
    * and decode joins carry a BROADCAST hint by default: a dictionary is
    * one variable's distinct-value set — almost always tiny next to the
    * edge set — and without the hint Spark has no size estimate for the
    * localCheckpoint frame, so each variable paid two full shuffle rounds
    * (and the un-hinted joins invited the UCT reorder rule to sample the
    * operator's own output at planning time). Pass `broadcastDicts =
    * false` for a variable domain too large to ship to every executor;
    * encode/decode then fall back to shuffle-keyed equi-joins and the
    * wrapper still preserves the one-communication-round core.
    */
  def joinTyped(
      spark: SparkSession,
      rels: Seq[(DataFrame, Seq[String])],
      varOrder: Seq[String],
      shares: Map[String, Int],
      dynamicOrder: Boolean = false,
      seekCounter: Option[LongAccumulator] = None,
      broadcastDicts: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    def typeOf(v: String): DataType = {
      val ts = rels.collect { case (df, vs) if vs.contains(v) =>
        df.schema(v).dataType }
      require(ts.toSet.size == 1,
        s"variable '$v' has conflicting types across relations: $ts")
      ts.head
    }
    val needDict = varOrder.filter(v => !integral.contains(typeOf(v)))
    // join() computes over Long; narrow integral inputs come back at their
    // declared type, honoring the decode contract for every variable
    def narrow(df: DataFrame): DataFrame =
      df.select(varOrder.map { v =>
        val t = typeOf(v)
        if (integral.contains(t) && t != LongType) col(v).cast(t).as(v)
        else col(v)
      }.toIndexedSeq: _*)
    if (needDict.isEmpty)
      narrow(join(spark, rels, varOrder, shares, dynamicOrder, seekCounter))
    else {
      // per variable: DataFrame(value, code) with distributed unique codes
      val dicts: Map[String, DataFrame] = needDict.map { v =>
        val values = rels.collect { case (df, vs) if vs.contains(v) =>
            df.select(col(v)).na.drop()
          }.reduce(_.union(_)).distinct()
        val schema = StructType(Seq(
          values.schema.fields.head.copy(name = s"__val_$v"),
          StructField(s"__code_$v", LongType, nullable = false)))
        val coded = values.rdd.zipWithUniqueId().map { case (r, id) =>
          Row(r.get(0), id) }
        val df = spark.createDataFrame(coded, schema).localCheckpoint(false)
        v -> (if (broadcastDicts) org.apache.spark.sql.functions.broadcast(df)
              else df)
      }.toMap
      val encoded = rels.map { case (df, vs) =>
        val enc = vs.filter(needDict.contains).foldLeft(df) { (d, v) =>
          d.join(dicts(v), d(v) === dicts(v)(s"__val_$v"))
            .drop(v).drop(s"__val_$v")
            .withColumnRenamed(s"__code_$v", v)
        }
        (enc, vs)
      }
      val joined = join(spark, encoded, varOrder, shares, dynamicOrder, seekCounter)
      // decode back to the original values, preserving column order/types
      val decoded = needDict.foldLeft(joined) { (d, v) =>
        d.join(dicts(v), d(v) === dicts(v)(s"__code_$v"))
          .drop(v).drop(s"__code_$v")
          .withColumnRenamed(s"__val_$v", v)
      }
      narrow(decoded.select(varOrder.map(col).toIndexedSeq: _*))
    }
  }

  /** DynamicLFTJ order heuristic: bind the most selective CONNECTED
    * variable next. Cardinality of a variable in this cell = the MINIMUM
    * distinct-count over the relations containing it (the tightest
    * intersection bound); ties broken by global position for determinism.
    * Connectivity is mandatory, not a tiebreak: a candidate must share a
    * relation with an already-bound variable, because binding two
    * non-adjacent variables consecutively (e.g. the opposite corners of a
    * 4-cycle) makes the deeper frontier a CROSS PRODUCT of their candidate
    * sets — measured 10x slower than the static connected order on a
    * 1M-edge cycle census before this guard (the same avoid-Cartesian rule
    * the UCT join order and the reference's variable orders apply).
    * Counting sorts a primitive copy of each (relation, attribute) column
    * — O(n log n) per column on the cell fragment, negligible next to the
    * join itself. */
  private def chooseOrder(nVars: Int, relVarPos: Array[Array[Int]],
      flats: Array[Array[Long]]): Array[Int] = {
    val card = Array.fill(nVars)(Long.MaxValue)
    var i = 0
    while (i < relVarPos.length) {
      val rv = relVarPos(i)
      val w = rv.length
      val nRows = if (w == 0) 0 else flats(i).length / w
      var j = 0
      while (j < rv.length) {
        val colVals = new Array[Long](nRows)
        var r = 0
        while (r < colVals.length) { colVals(r) = flats(i)(r * w + j); r += 1 }
        java.util.Arrays.sort(colVals)
        var distinct = if (colVals.isEmpty) 0L else 1L
        r = 1
        while (r < colVals.length) {
          if (colVals(r) != colVals(r - 1)) distinct += 1
          r += 1
        }
        if (distinct < card(rv(j))) card(rv(j)) = distinct
        j += 1
      }
      i += 1
    }
    val bound = new Array[Boolean](nVars)
    val order = new Array[Int](nVars)
    var k = 0
    while (k < nVars) {
      val cands = (0 until nVars).filterNot(bound)
      val connected = cands.filter(g =>
        relVarPos.exists(rv => rv.contains(g) && rv.exists(bound)))
      val pool = if (k == 0 || connected.isEmpty) cands else connected
      val next = pool.minBy(g => (card(g), g))
      order(k) = next
      bound(next) = true
      k += 1
    }
    order
  }

  /** Grid coordinate of a value: mixed 64-bit hash mod share, so skewed but
    * distinct keys still spread across the dimension (one heavy-hitter
    * VALUE still pins to a single coordinate — see the class doc). */
  private[graft] def coordOf(v: Long, share: Int): Int =
    if (share == 1) 0
    else java.lang.Math.floorMod(scala.util.hashing.byteswap64(v), share.toLong).toInt

  /** In-place quicksort of row indices over a flat row-major buffer,
    * comparing rows lexicographically by `cols` — no per-row objects, no
    * boxing (a comparator sort over tuple arrays was the cell setup's GC
    * hot spot). Median-of-three pivots, insertion sort under 13 elements,
    * and recursion always on the smaller partition (O(log n) stack even on
    * pathological inputs). Duplicate rows are fine: the trie run-narrowing
    * collapses them downstream. */
  private def sortIndices(idx: Array[Int], flat: Array[Long], w: Int,
      cols: Array[Int]): Unit = {
    val nc = cols.length
    def cmp(a: Int, b: Int): Int = {
      val ba = a * w
      val bb = b * w
      var j = 0
      while (j < nc) {
        val c = java.lang.Long.compare(flat(ba + cols(j)), flat(bb + cols(j)))
        if (c != 0) return c
        j += 1
      }
      0
    }
    def swap(i: Int, j: Int): Unit = {
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    def sort(lo0: Int, hi0: Int): Unit = { // [lo0, hi0)
      var lo = lo0
      var hi = hi0
      while (hi - lo > 12) {
        val mid = (lo + hi - 1) >>> 1
        if (cmp(idx(mid), idx(lo)) < 0) swap(mid, lo)
        if (cmp(idx(hi - 1), idx(lo)) < 0) swap(hi - 1, lo)
        if (cmp(idx(hi - 1), idx(mid)) < 0) swap(hi - 1, mid)
        val p = idx(mid)
        var i = lo
        var j = hi - 1
        while (i <= j) {
          while (cmp(idx(i), p) < 0) i += 1
          while (cmp(idx(j), p) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (j - lo < hi - i) { sort(lo, j + 1); lo = i }
        else { sort(i, hi); hi = j + 1 }
      }
      var i = lo + 1
      while (i < hi) {
        val v = idx(i)
        var j = i - 1
        while (j >= lo && cmp(idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
        idx(j + 1) = v
        i += 1
      }
    }
    sort(0, idx.length)
  }

  /** In-memory leapfrog over one grid cell, exposed as a LAZY iterator of
    * bindings (the caller pulls; no output materialization). Each
    * relation's tuples are lexicographically sorted by its variables in
    * cell order, so at depth d the values of the next unbound attribute
    * are sorted within the tuple range consistent with the bindings so far
    * — the sorted-trie view the reference builds in `LFTJiter.java` — and
    * the per-depth intersection advances by seeking each lagging relation
    * to the current maximum (galloping replaced by binary search). The
    * recursion of the classic formulation is unrolled into per-depth
    * frames (pos / saved-range / current-max) driven by `advance()`, so
    * producing the next binding does O(depth) work beyond its seeks and
    * holds O(nVars · nRels) state however large the output is. Each
    * emitted array is a fresh copy of the current binding.
    */
  private[plans] final class CellLFTJ(
      nVars: Int,
      relVarPos: Array[Array[Int]],
      rels: Array[Array[Long]],
      acc: LongAccumulator = null) extends Iterator[Array[Long]] {

    // each relation is a FLAT row-major buffer; its width (values per row)
    // is its attribute count, so row r's attribute a sits at r * width + a
    private val rw: Array[Int] = relVarPos.map(_.length)
    require(rels.indices.forall(i => rw(i) > 0 && rels(i).length % rw(i) == 0),
      "each relation's flat buffer length must be a multiple of its width")

    // participants per depth: (relation index, attribute index in its trie)
    private val parts: Array[Array[(Int, Int)]] =
      Array.tabulate(nVars) { d =>
        relVarPos.zipWithIndex.flatMap { case (ps, i) =>
          val a = ps.indexOf(d)
          if (a >= 0) Some((i, a)) else None
        }
      }
    private val np: Array[Int] = parts.map(_.length)
    // a depth with zero participants would make findMatch trivially succeed
    // and stepPast never report exhaustion — an infinite iterator. join()
    // guarantees coverage, but direct constructions must be guarded too.
    require(np.forall(_ > 0),
      s"every depth needs >=1 participating relation; got ${np.mkString(",")}")

    // active range per relation (in ROW units) along the current path
    // (narrowed at every depth the relation participates in)
    private val loG = new Array[Int](rels.length)
    private val hiG: Array[Int] = Array.tabulate(rels.length)(i => rels(i).length / rw(i))
    private val binding = new Array[Long](nVars)
    // per-depth frames
    private val pos = Array.tabulate(nVars)(d => new Array[Int](np(d)))
    private val sLo = Array.tabulate(nVars)(d => new Array[Int](np(d)))
    private val sHi = Array.tabulate(nVars)(d => new Array[Int](np(d)))
    private val maxV = new Array[Long](nVars)
    // needStep(d): the frame sits on an already-emitted/descended value and
    // must advance past its run before seeking the next match
    private val needStep = new Array[Boolean](nVars)

    private var depth = 0
    // nVars == 0 cannot come from join() (which requires >= 1 variable);
    // guard anyway so a direct construction degrades to empty, not AIOOBE
    private var exhausted = nVars == 0 || rels.exists(_.isEmpty)
    private var nextRow: Array[Long] = _
    if (!exhausted && !openDepth(0)) exhausted = true
    if (!exhausted) advance()

    override def hasNext: Boolean = nextRow != null

    override def next(): Array[Long] = {
      val r = nextRow
      if (r == null) throw new NoSuchElementException("CellLFTJ exhausted")
      advance()
      r
    }

    /** Pull the next full binding, or mark exhaustion. */
    private def advance(): Unit = {
      nextRow = null
      if (exhausted) return
      while (true) {
        if (depth < 0) { exhausted = true; return }
        val matched =
          if (needStep(depth)) {
            needStep(depth) = false
            stepPast(depth) && findMatch(depth)
          } else findMatch(depth)
        if (!matched) depth -= 1 // parent frame still has needStep = true
        else {
          needStep(depth) = true
          if (depth == nVars - 1) { nextRow = binding.clone(); return }
          depth += 1
          if (openDepth(depth)) needStep(depth) = false
          else depth -= 1 // dead sub-trie: back to this frame's stepPast
        }
      }
    }

    /** Enter depth d: position every participant at its range start, record
      * the ranges for restoration, seed the leapfrog maximum. False if a
      * participant's range is empty. */
    private def openDepth(d: Int): Boolean = {
      val ps = parts(d)
      var mx = Long.MinValue
      var k = 0
      while (k < np(d)) {
        val (i, a) = ps(k)
        pos(d)(k) = loG(i); sLo(d)(k) = loG(i); sHi(d)(k) = hiG(i)
        if (pos(d)(k) >= hiG(i)) return false
        val v = rels(i)(pos(d)(k) * rw(i) + a)
        if (v > mx) mx = v
        k += 1
      }
      maxV(d) = mx
      true
    }

    /** Leapfrog at depth d from the current positions: sweep every
      * participant up to the running maximum until a full sweep leaves all
      * equal (standard leapfrog convergence). On a match, binds the value
      * and narrows every participant's global range to its run. */
    private def findMatch(d: Int): Boolean = {
      val ps = parts(d)
      while (true) {
        var allEq = true
        var k = 0
        while (k < np(d)) {
          val (i, a) = ps(k)
          val p2 = seek(i, a, pos(d)(k), sHi(d)(k), maxV(d), gt = false)
          if (p2 >= sHi(d)(k)) return false
          pos(d)(k) = p2
          val v = rels(i)(p2 * rw(i) + a)
          if (v > maxV(d)) { maxV(d) = v; allEq = false }
          k += 1
        }
        if (allEq) {
          binding(d) = maxV(d)
          k = 0
          while (k < np(d)) {
            val (i, a) = ps(k)
            loG(i) = pos(d)(k)
            hiG(i) = seek(i, a, pos(d)(k), sHi(d)(k), maxV(d), gt = true)
            k += 1
          }
          return true
        }
      }
      false // unreachable
    }

    /** Leave the current value's run at depth d: restore every participant's
      * global range and advance it past the run. False when any participant
      * is exhausted (depth d has no further values). */
    private def stepPast(d: Int): Boolean = {
      val ps = parts(d)
      var k = 0
      var dead = false
      while (k < np(d)) {
        val (i, _) = ps(k)
        pos(d)(k) = hiG(i) // narrowed hi = first index past the bound run
        loG(i) = sLo(d)(k); hiG(i) = sHi(d)(k)
        if (pos(d)(k) >= sHi(d)(k)) dead = true
        k += 1
      }
      if (dead) return false
      var mx = Long.MinValue
      k = 0
      while (k < np(d)) {
        val (i, a) = ps(k)
        val v = rels(i)(pos(d)(k) * rw(i) + a)
        if (v > mx) mx = v
        k += 1
      }
      maxV(d) = mx
      true
    }

    /** First ROW index in [from, until) of relation `i` whose attr value is
      * >= target (gt=false) or > target (gt=true). */
    private def seek(i: Int, attr: Int, from: Int,
        until: Int, target: Long, gt: Boolean): Int = {
      if (acc != null) acc.add(1L)
      val rel = rels(i)
      val w = rw(i)
      var a = from
      var b = until
      while (a < b) {
        val m = (a + b) >>> 1
        val v = rel(m * w + attr)
        if (v < target || (gt && v == target)) a = m + 1 else b = m
      }
      a
    }
  }
}
