package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs seen.
  * Plain insertion into a sorted array — k is small (single digits for kNN),
  * so linear insertion beats heap constant factors and keeps serialization
  * trivial.
  */
final class TopKBuffer(val k: Int) {
  // ordered best-first: scores desc, ties id asc
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // java.lang.Double.compare, not primitive >/==: Spark's sort order ranks
  // NaN GREATER than every double (and a primitive NaN comparison is
  // always false, which would both mis-rank NaN and break the id tiebreak
  // between two NaNs)
  private def better(s: Double, id: Long, i: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(i))
    c > 0 || (c == 0 && id < ids(i))
  }

  def insert(s0: Double, id: Long): Unit = {
    // normalize -0.0 to 0.0 (Double.compare splits them; Spark's sort does
    // not — NormalizeFloatingNumbers runs before every SQL comparison)
    val s = if (s0 == 0.0) 0.0 else s0
    if (size == k && !better(s, id, k - 1)) return
    var i = math.min(size, k - 1)
    while (i > 0 && better(s, id, i - 1)) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    scores(i) = s; ids(i) = id
    if (size < k) size += 1
  }

  def mergeFrom(o: TopKBuffer): Unit = {
    var i = 0
    while (i < o.size) { insert(o.scores(i), o.ids(i)); i += 1 }
  }
}

/** `graft_topk(score, id, k)` → `array<struct<id:bigint, score:double>>`,
  * the k best (score desc, ties id asc) rows of the group — the aggregate
  * form of `row_number() OVER (PARTITION BY g ORDER BY score DESC, id)
  * <= k`.
  *
  * Why it exists: the window form materializes and SORTS every candidate
  * row after shuffling them all on the group key — for a kNN join that is
  * the full pairwise set (|group| ≈ bucket size, e.g. 10^9 rows at 1M
  * vectors). As a [[TypedImperativeAggregate]] this evicts down to k
  * entries INSIDE the map task (partial aggregation), so the shuffle
  * carries #groups × k rows instead of every pair — the map-side-combine
  * posture that survives a 1000-executor scale-up.
  *
  * Null scores/ids are skipped (a null cosine cannot rank); NaN ranks
  * first and -0.0 ties 0.0, matching Spark's sort order. Ids may be int or
  * bigint (the output id widens to bigint). `k` must be a foldable int in
  * [1, 10000] (it sizes the fixed buffer).
  */
case class TopKPairs(
    score: Expression, id: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType, kExpr.dataType) match {
      case (DoubleType, IntegerType | LongType, IntegerType) if kExpr.foldable =>
        val kv = kExpr.eval()
        if (kv == null || kv.asInstanceOf[Int] < 1 || kv.asInstanceOf[Int] > 10000)
          TypeCheckResult.TypeCheckFailure(
            s"graft_topk k must be in [1, 10000], got $kv")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_topk requires (double, int|bigint, foldable int), got $other")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      b.insert(s.asInstanceOf[Double], i.asInstanceOf[Number].longValue)
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: TopKBuffer): Any = {
    val out = new Array[Any](b.size)
    var i = 0
    while (i < b.size) {
      out(i) = InternalRow(b.ids(i), b.scores(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + 16 * b.size)
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) {
      out.writeDouble(b.scores(i)); out.writeLong(b.ids(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new TopKBuffer(k)
    var i = 0
    // entries arrive best-first; insert preserves order
    while (i < n) { b.insert(in.readDouble(), in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKPairs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

/** `graft_vec_sum(array<double>)` → `array<double>`: the elementwise sum
  * of the group's vectors — the fixed-width building block for distributed
  * second-moment/Gramian accumulation (PCA, covariance, centroid sums).
  *
  * Why it exists: the explode-based alternative (`posexplode` →
  * `groupBy(pos)`) multiplies the exchanged row count by the array length —
  * fine at d=64, fatal at the d² = 4096-entry outer products a covariance
  * pass accumulates over 10^10 rows. This aggregate keeps ONE d-width
  * buffer per map task (partial aggregation), so the exchange carries
  * #groups × d doubles total. Sum order is partition-dependent (double
  * addition is not associative) — consumers that surface the values verify
  * through a tolerance harness, the same contract as every FP aggregate.
  *
  * Nulls are skipped; all non-null inputs must share one length (mixed
  * lengths fail loudly — a silent truncation would corrupt every entry).
  * Empty groups evaluate to null.
  */
case class VecSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vec_sum requires array<double> (cast floats first), got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_sum"

  // empty marker: zero-length array (a real zero-length input is rejected)
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return b
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    require(n > 0, "graft_vec_sum: zero-length vector")
    // Null ELEMENTS fail loudly, same contract as mixed lengths: getDouble
    // on a null slot would silently read 0.0 and corrupt the sum. (A null
    // vector — the whole array — is skipped above, like every SQL agg.)
    if (b.length == 0) {
      val fresh = new Array[Double](n)
      var i = 0
      while (i < n) {
        require(!arr.isNullAt(i), s"graft_vec_sum: null element at index $i")
        fresh(i) = arr.getDouble(i); i += 1
      }
      fresh
    } else {
      require(b.length == n,
        s"graft_vec_sum: mixed vector lengths (${b.length} vs $n)")
      var i = 0
      while (i < n) {
        require(!arr.isNullAt(i), s"graft_vec_sum: null element at index $i")
        b(i) += arr.getDouble(i); i += 1
      }
      b
    }
  }

  override def merge(b: Array[Double], o: Array[Double]): Array[Double] = {
    if (o.length == 0) b
    else if (b.length == 0) o
    else {
      require(b.length == o.length,
        s"graft_vec_sum: mixed vector lengths (${b.length} vs ${o.length})")
      var i = 0
      while (i < b.length) { b(i) += o(i); i += 1 }
      b
    }
  }

  override def eval(b: Array[Double]): Any =
    if (b.length == 0) null
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b)

  override def serialize(b: Array[Double]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 * b.length)
    out.putInt(b.length)
    var i = 0
    while (i < b.length) { out.putDouble(b(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val b = new Array[Double](n)
    var i = 0
    while (i < n) { b(i) = in.getDouble(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): VecSum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecSum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSum =
    copy(child = newChildren(0))
}

/** Bounded top-k buffer over STRING ids: keeps the k best
  * (score desc, id asc — binary UTF-8 order, matching both Spark's and
  * DuckDB's default string collation) pairs seen. Same linear-insertion
  * rationale as [[TopKBuffer]]; ids are [[org.apache.spark.unsafe.types.UTF8String]]
  * (callers must pass OWNED copies — see [[TopKStrPairs.update]]).
  */
final class TopKStrBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[org.apache.spark.unsafe.types.UTF8String](k)
  var size = 0

  private def better(s: Double, id: org.apache.spark.unsafe.types.UTF8String,
                     i: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(i))
    c > 0 || (c == 0 && id.compareTo(ids(i)) < 0)
  }

  def insert(s0: Double, id: org.apache.spark.unsafe.types.UTF8String): Unit = {
    val s = if (s0 == 0.0) 0.0 else s0 // normalize -0.0 (see TopKBuffer)
    if (size == k && !better(s, id, k - 1)) return
    var i = math.min(size, k - 1)
    while (i > 0 && better(s, id, i - 1)) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    scores(i) = s; ids(i) = id
    if (size < k) size += 1
  }

  def mergeFrom(o: TopKStrBuffer): Unit = {
    var i = 0
    while (i < o.size) { insert(o.scores(i), o.ids(i)); i += 1 }
  }
}

/** `graft_topk_str(score, id, k)` → `array<struct<id:string, score:double>>`
  * — [[TopKPairs]] for STRING-keyed rankings (tokens, URLs, shingles),
  * where hashing the id to a bigint would break the deterministic
  * tie-break the DuckDB oracle can express (`ORDER BY score DESC, id`).
  *
  * Same scale posture as graft_topk: the window form shuffles EVERY
  * candidate row to one partition per group and sorts it (per-lang
  * distinct tokens ≈ 10^8 at 100 TB — one task); this evicts to k entries
  * inside the map task, so the exchange carries #groups × k rows. Ties
  * break (score desc, id asc) in binary UTF-8 order — identical to both
  * engines' default collation for the ASCII tokens this serves.
  */
case class TopKStrPairs(
    score: Expression, id: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType, kExpr.dataType) match {
      case (DoubleType, StringType, IntegerType) if kExpr.foldable =>
        val kv = kExpr.eval()
        if (kv == null || kv.asInstanceOf[Int] < 1 || kv.asInstanceOf[Int] > 10000)
          TypeCheckResult.TypeCheckFailure(
            s"graft_topk_str k must be in [1, 10000], got $kv")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_topk_str requires (double, string, foldable int), got $other")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_str"

  override def createAggregationBuffer(): TopKStrBuffer = new TopKStrBuffer(k)

  override def update(b: TopKStrBuffer, input: InternalRow): TopKStrBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      // clone: eval may return a buffer-backed view that the buffer would
      // hold across rows (same hazard graft_freq documents)
      val u = i.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      // cheap pre-check against the current cutoff before paying the copy
      if (b.size < b.k || java.lang.Double.compare(
            if (s.asInstanceOf[Double] == 0.0) 0.0 else s.asInstanceOf[Double],
            b.scores(b.k - 1)) >= 0)
        b.insert(s.asInstanceOf[Double], u.clone())
    }
    b
  }

  override def merge(b: TopKStrBuffer, o: TopKStrBuffer): TopKStrBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: TopKStrBuffer): Any = {
    val out = new Array[Any](b.size)
    var i = 0
    while (i < b.size) {
      out(i) = InternalRow(b.ids(i), b.scores(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKStrBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 * (b.size + 1))
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) {
      out.writeDouble(b.scores(i))
      val bytes = b.ids(i).getBytes
      out.writeInt(bytes.length); out.write(bytes)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKStrBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new TopKStrBuffer(k)
    var i = 0
    while (i < n) {
      val s = in.readDouble()
      val len = in.readInt(); val buf = new Array[Byte](len)
      in.readFully(buf)
      b.insert(s, org.apache.spark.unsafe.types.UTF8String.fromBytes(buf))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStrPairs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStrPairs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStrPairs =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

/** Misra–Gries frequent-items summary, bounded at k counters.
  *
  * Update is the classic MG step (present → +1; room → insert 1; full →
  * decrement every counter by 1, dropping zeros — amortized O(1): each
  * decrement-all retires k+1 count units, so over n updates at most
  * n/(k+1) such sweeps run). Merge follows Agarwal et al., "Mergeable
  * Summaries" (PODS 2012, §3): sum the two counter sets (≤2k entries),
  * then if more than k remain subtract the (k+1)-th largest count from
  * all and drop the non-positive — the result is again an MG summary
  * with the additive error bounds intact. Net guarantee after any
  * merge tree: `true − n/(k+1) ≤ est ≤ true`, so every item with true
  * frequency > n/(k+1) is PRESENT in the summary (the guarantee
  * `heavy_hitters`' envelope oracle checks at n/k, a strictly looser
  * bound).
  */
final class FreqBuffer(val k: Int) {
  val counts = new java.util.HashMap[Any, java.lang.Long](2 * k)

  def update1(item: Any): Unit = {
    val c = counts.get(item)
    if (c != null) counts.put(item, c + 1L)
    else if (counts.size < k) counts.put(item, 1L)
    else {
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  def add(item: Any, w: Long): Unit = {
    val c = counts.get(item)
    counts.put(item, if (c == null) w else c + w)
  }

  def mergeFrom(o: FreqBuffer): Unit = {
    val it = o.counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); add(e.getKey, e.getValue) }
    if (counts.size > k) {
      // subtract the (k+1)-th largest count, drop what hits zero
      val vals = new Array[Long](counts.size)
      val vi = counts.values.iterator(); var i = 0
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val m = vals(vals.length - (k + 1)) // (k+1)-th largest
      val it2 = counts.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        if (e.getValue <= m) it2.remove() else e.setValue(e.getValue - m)
      }
    }
  }
}

/** `graft_freq(item, k)` → `array<struct<item, est:bigint>>`, the
  * Misra–Gries frequent-items summary of the group, sorted (est desc,
  * item asc).
  *
  * Why it exists: the exact form of "which keys dominate this column"
  * is a full `groupBy(item).count()` — one shuffle row per DISTINCT key.
  * At 100 TB a high-cardinality column (user ids, URLs, shingles) makes
  * that exchange itself the bottleneck even though only the handful of
  * heavy keys matter. [[FreqBuffer]] is a MERGEABLE bounded sketch: each
  * map task keeps ≤k counters, the exchange carries ≤k rows per task,
  * and the merged summary still guarantees every item with frequency
  * > n/(k+1) is present with `est` within n/(k+1) of exact (Agarwal
  * et al., PODS 2012). The exact pass in `heavy_hitters`' registry
  * envelope is the verification harness, not the scale path.
  *
  * Items may be string or bigint (the buffer is type-stable per the
  * child's type; output item field matches it). Nulls are skipped. `k`
  * must be a foldable int in [1, 65536].
  */
case class FreqItems(
    item: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  private def isStr: Boolean = item.dataType == StringType

  override def children: Seq[Expression] = Seq(item, kExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, kExpr.dataType) match {
      case (StringType | LongType, IntegerType) if kExpr.foldable =>
        val kv = kExpr.eval()
        if (kv == null || kv.asInstanceOf[Int] < 1 || kv.asInstanceOf[Int] > 65536)
          TypeCheckResult.TypeCheckFailure(
            s"graft_freq k must be in [1, 65536], got $kv")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_freq requires (string|bigint, foldable int), got $other")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", item.dataType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq"

  override def createAggregationBuffer(): FreqBuffer = new FreqBuffer(k)

  override def update(b: FreqBuffer, input: InternalRow): FreqBuffer = {
    val v = item.eval(input)
    // UTF8String from eval may be a buffer-backed view; copy before it
    // outlives the current row (the buffer holds it across rows)
    if (v != null) b.update1(v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case other => other
    })
    b
  }

  override def merge(b: FreqBuffer, o: FreqBuffer): FreqBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: FreqBuffer): Any = {
    val entries = new Array[(Any, Long)](b.counts.size)
    val it = b.counts.entrySet().iterator(); var i = 0
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue.longValue); i += 1 }
    // est desc, item asc — deterministic output order
    val sorted = entries.sortWith { case ((i1, c1), (i2, c2)) =>
      if (c1 != c2) c1 > c2
      else i1.asInstanceOf[Comparable[Any]].compareTo(i2) < 0
    }
    new GenericArrayData(sorted.map { case (it0, c) => InternalRow(it0, c) })
  }

  override def serialize(b: FreqBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 * (b.counts.size + 1))
    val out = new DataOutputStream(bos)
    out.writeInt(b.counts.size)
    val it = b.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (isStr) {
        val bytes = e.getKey.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        out.writeInt(bytes.length); out.write(bytes)
      } else out.writeLong(e.getKey.asInstanceOf[java.lang.Long].longValue)
      out.writeLong(e.getValue.longValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): FreqBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new FreqBuffer(k)
    var i = 0
    while (i < n) {
      val key: Any =
        if (isStr) {
          val len = in.readInt(); val buf = new Array[Byte](len)
          in.readFully(buf)
          org.apache.spark.unsafe.types.UTF8String.fromBytes(buf)
        } else java.lang.Long.valueOf(in.readLong())
      b.add(key, in.readLong())
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqItems =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItems =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqItems =
    copy(item = newChildren(0), kExpr = newChildren(1))
}

/** Per-element decimal-exact mean buffer for [[VecDecimalMean]]: per
  * position, the exact DECIMAL(20,10) running sum (null until the first
  * non-null contribution — SQL sum semantics), the row count (every vector
  * long enough to HAVE the position, null elements included — SQL count(1)
  * semantics), grown to the longest vector seen.
  */
final class VecMeanBuffer {
  var sums: Array[java.math.BigDecimal] = Array.empty
  var counts: Array[Long] = Array.empty

  def growTo(n: Int): Unit = if (n > counts.length) {
    sums = java.util.Arrays.copyOf(sums, n)
    counts = java.util.Arrays.copyOf(counts, n)
  }
}

/** `graft_vec_dmean(v)` — the one-aggregate Lloyd mean update (r16): per
  * element position, `cast(sum(cast(v[pos] as DECIMAL(20,10))) as double)
  * / count(rows having pos)` — bit-for-bit the value the
  * posexplode → groupBy(key, pos) → sum(DECIMAL)/count → collect_list
  * re-assembly pipeline computed, in ONE exchange instead of two:
  *
  *   - double→DECIMAL(20,10) replicates Spark's Cast exactly —
  *     java.math.BigDecimal.valueOf (shortest decimal string), setScale
  *     (10, HALF_UP), null on precision overflow (> 20 digits);
  *   - float elements widen to double first (Cast's float path);
  *   - decimal addition is exact and order-independent, so the result is
  *     partitioning-independent (the LlmOps.decimalVecMean rule);
  *   - per-position counts track ragged vectors exactly like the explode
  *     form (a vector contributes to count at every position it HAS,
  *     null elements included; the sum skips nulls), so an all-null
  *     position yields a null element, as sum-over-nothing did.
  *
  * SCALE GUARD for callers: as a TypedImperativeAggregate this plans
  * ObjectHashAggregate, which falls back to SORT-based aggregation past
  * spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
  * distinct keys per partition — sorting the corpus-sized input with its
  * embedding payload, the r11/r12 ENOSPC class. Callers gate on the
  * GROUP COUNT (LlmOps.VecMeanMaxGroups) and keep the explode shape —
  * fixed-width HashAggregate partials, fallback-free — above it.
  */
case class VecDecimalMean(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMeanBuffer] {

  override def children: Seq[Expression] = Seq(child)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vec_dmean requires array<float|double>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_dmean"

  override def createAggregationBuffer(): VecMeanBuffer = new VecMeanBuffer

  /** Spark's Cast(double → DECIMAL(20, 10)) under the session default
    * (ANSI on in Spark 4): shortest-decimal BigDecimal, setScale(10,
    * HALF_UP), and THROW past 20 digits of precision — the explode form's
    * cast raises exactly here, and a silent null would diverge from it.
    */
  private def toDec(x: Double): java.math.BigDecimal = {
    val scaled = java.math.BigDecimal.valueOf(x)
      .setScale(10, java.math.RoundingMode.HALF_UP)
    if (scaled.precision > 20)
      throw new ArithmeticException(
        s"graft_vec_dmean: $x cannot be represented as Decimal(20, 10) " +
          "(the Lloyd update's exact-sum type)")
    scaled
  }

  override def update(b: VecMeanBuffer, input: InternalRow): VecMeanBuffer = {
    val v = child.eval(input)
    if (v == null) return b // a null ARRAY contributes nothing (generator semantics)
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    b.growTo(n)
    var i = 0
    while (i < n) {
      b.counts(i) += 1L
      if (!arr.isNullAt(i)) {
        val d = toDec(if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
        if (d != null)
          b.sums(i) = if (b.sums(i) == null) d else b.sums(i).add(d)
      }
      i += 1
    }
    b
  }

  override def merge(b: VecMeanBuffer, o: VecMeanBuffer): VecMeanBuffer = {
    b.growTo(o.counts.length)
    var i = 0
    while (i < o.counts.length) {
      b.counts(i) += o.counts(i)
      if (o.sums(i) != null)
        b.sums(i) = if (b.sums(i) == null) o.sums(i) else b.sums(i).add(o.sums(i))
      i += 1
    }
    b
  }

  override def eval(b: VecMeanBuffer): Any = {
    if (b.counts.length == 0) return null // no rows in the group → null (matches empty collect_list → but the group then has no row at all upstream)
    val out = new Array[Any](b.counts.length)
    var i = 0
    while (i < b.counts.length) {
      out(i) =
        if (b.sums(i) == null) null // sum over no non-null values
        else b.sums(i).doubleValue() / b.counts(i).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: VecMeanBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.counts.length)
    var i = 0
    while (i < b.counts.length) {
      out.writeLong(b.counts(i))
      val s = if (b.sums(i) == null) "" else b.sums(i).toPlainString
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMeanBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new VecMeanBuffer
    val n = in.readInt()
    b.growTo(n)
    var i = 0
    while (i < n) {
      b.counts(i) = in.readLong()
      val len = in.readInt()
      if (len > 0) {
        val buf = new Array[Byte](len)
        in.readFully(buf)
        b.sums(i) = new java.math.BigDecimal(
          new String(buf, java.nio.charset.StandardCharsets.UTF_8))
      }
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): VecDecimalMean =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecDecimalMean =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecDecimalMean =
    copy(child = newChildren(0))
}
