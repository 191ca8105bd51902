package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY.md §2.4): corral's only aggregation hook is
  * writing a `Reducer`; the Spark-native typed equivalent is
  * `Aggregator[IN, BUF, OUT]` — partial (map-side) aggregation, spillable
  * merge, codegen'd buffer encoding, none of which the reference has.
  *
  * The buffer keeps exact integer sums so `finish` is a single
  * deterministic IEEE division — oracle-stable (see QueryDef notes).
  */
object Aggregators {

  final case class LangDoc(lang: String, n_chars: Long)

  /** Mean chars per group via exact (Long, Long) sums. */
  object MeanChars extends Aggregator[LangDoc, (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), d: LangDoc): (Long, Long) =
      (b._1 + d.n_chars, b._2 + 1)
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Long, Long)): Double = b._1.toDouble / b._2
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Deterministic-arithmetic HyperLogLog (Flajolet et al. '07) over
    * Long keys. Everything is mod-P affine hashing + trailing-zero
    * ranks + exact power-of-two arithmetic, so the DuckDB oracle
    * replays the ENTIRE sketch bit-for-bit — an approximate operator
    * with an exact correctness gate (HllAggregatorSpec additionally
    * pins the estimate's relative error).
    *
    * Buffer = M per-bucket max ranks; merge is element-wise max (a
    * commutative idempotent monoid → partial aggregation is safe).
    * The finish sum is order-independent IN IEEE DOUBLES, not just
    * mathematically: each term 2^-M[j] is an exact power of two ≥ 2^-25
    * and ≤ 1, so every partial sum of ≤M terms fits a 53-bit mantissa
    * exactly (M ≤ 2^19), so merge order can't perturb the oracle hash.
    * Small-range (linear-counting) correction applies below 2.5·M:
    * `M·ln(M/zeros)` — still oracle-replayable, because the correction
    * is a pure function of the integer `zeros ∈ [1, M]`, so the SQL
    * side is a CASE over literals generated from this JVM's own
    * `Math.log` (shortest-round-trip repr → identical bits in DuckDB).
    */
  class HllParams(val M: Int) extends Serializable {
    require(M >= 16 && M <= (1 << 19) && (M & (M - 1)) == 0,
      s"M must be a power of two in [16, 2^19], got $M")
    val RankCap = 25
    val P = graft.functions.PolyHashConstants.P
    // affine + quadratic-scramble constants
    val A1 = 1103515245L; val B1 = 12345L
    val B2 = 2531011L
    // Kept as the m-generic 0.7213/(1+1.079/m) for every M (the classic
    // small-m constants 0.673/0.697/0.709 differ <2% and the oracle pins
    // this exact formula). Shortest-round-trip Double literal — DuckDB
    // parses back the same bits.
    val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

    /** Affine + quadratic scramble mod P: g = ((x·A1+B1 mod P)² + B2)
      * mod P. The quadratic step matters — bucket and rank derived from
      * two affine maps of x are correlated on arithmetic-progression
      * keys (sequential ids!) and skewed HLL estimates 45% in testing;
      * squaring breaks the progression structure while staying plain
      * BIGINT arithmetic the oracle can replay (h < 2³¹ ⇒ h² < 2⁶²). */
    def mixed(x: Long): Long = {
      val h = (java.lang.Math.floorMod(x, P) * A1 + B1) % P
      (h * h + B2) % P
    }

    /** Standard HLL split of one hash: low 6 bits → bucket. */
    def bucket(x: Long): Int = (mixed(x) % M).toInt

    /** Upper bits → rank = trailing zeros + 1, capped (ntz(h)=k ⟺
      * h mod 2^(k+1) = 2^k — the form the oracle's CASE cascade tests). */
    def rank(x: Long): Int = {
      val v = mixed(x) / M
      math.min(java.lang.Long.numberOfTrailingZeros(v) + 1, RankCap)
    }

    /** Raw harmonic-mean estimate (no correction). */
    def rawEstimate(maxRanks: Array[Byte]): Double = {
      var sum = 0.0
      var j = 0
      while (j < M) { sum += 1.0 / (1L << maxRanks(j)).toDouble; j += 1 }
      Alpha * M * M / sum
    }

    /** Linear-counting value for a given empty-bucket count. Public so
      * the oracle-SQL generator embeds these exact doubles as literals. */
    def linearCount(zeros: Int): Double = M * Math.log(M.toDouble / zeros)

    /** Estimate with the standard small-range correction: below 2.5·M
      * with empty buckets present, linear counting is both lower-bias
      * and lower-variance than the harmonic mean. */
    def estimate(maxRanks: Array[Byte]): Double = {
      val raw = rawEstimate(maxRanks)
      if (raw <= 2.5 * M) {
        var zeros = 0
        var j = 0
        while (j < M) { if (maxRanks(j) == 0) zeros += 1; j += 1 }
        if (zeros > 0) linearCount(zeros) else raw
      } else raw
    }
  }

  /** The oracle-pinned default instance (M=64, b=6). */
  object Hll extends HllParams(64)

  /** Bounded top-K per key: keeps the K best (price, id) pairs under
    * the total order (price DESC, id ASC) in a fixed 1+16K-byte buffer
    * — O(K) state per key however large the group, and partial
    * aggregation shrinks each map task's output to ≤K rows per key
    * BEFORE the shuffle. The window-function formulation (q16) must
    * instead shuffle every row and sort whole partitions; this is the
    * operator you want when K ≪ group size at 100 TB. Deterministic
    * (total order, no float accumulation) → exact SQL oracle. */
  object TopK {
    val K = 3 // the fixture queries' k
    private val Slot = 16
    // 4-byte count header. A 1-byte count wrapped at k > 255 and
    // CORRUPTED the buffer — found in r13 (STATUS r13): pqTopK with
    // rerank = 500 returned recall 0.0 where 50 returned 0.43, because
    // the candidate aggregate's count byte overflowed. k is a scale
    // knob (rerank grows with the corpus); the header must not cap it.
    private val Header = 4

    def zero(k: Int): Array[Byte] = new Array[Byte](Header + k * Slot)
    def zero: Array[Byte] = zero(K)

    private def count(b: Array[Byte]): Int =
      ((b(0) & 0xFF) << 24) | ((b(1) & 0xFF) << 16) |
        ((b(2) & 0xFF) << 8) | (b(3) & 0xFF)
    private def setCount(b: Array[Byte], n: Int): Unit = {
      b(0) = (n >>> 24).toByte; b(1) = (n >>> 16).toByte
      b(2) = (n >>> 8).toByte; b(3) = n.toByte
    }
    private def price(b: Array[Byte], i: Int): Double =
      java.lang.Double.longBitsToDouble(readLong(b, Header + i * Slot))
    private def id(b: Array[Byte], i: Int): Long =
      readLong(b, Header + i * Slot + 8)
    private def readLong(b: Array[Byte], o: Int): Long = {
      var v = 0L; var j = 0
      while (j < 8) { v = (v << 8) | (b(o + j) & 0xFFL); j += 1 }
      v
    }
    private def writeSlot(b: Array[Byte], i: Int, p: Double, x: Long): Unit = {
      var v = java.lang.Double.doubleToLongBits(p); var o = Header + i * Slot
      var j = 7
      while (j >= 0) { b(o + j) = v.toByte; v >>>= 8; j -= 1 }
      v = x; o += 8; j = 7
      while (j >= 0) { b(o + j) = v.toByte; v >>>= 8; j -= 1 }
    }

    private def better(p1: Double, x1: Long, p2: Double, x2: Long): Boolean =
      p1 > p2 || (p1 == p2 && x1 < x2)

    /** Insertion into the sorted fixed buffer; k is implied by the
      * buffer's size. A binary search finds the first slot the entry is
      * [[better]] than — strictly, so an equal entry stays ahead of it —
      * and one copy shifts the slots below it (the last one drops off a
      * full buffer; a zero-size buffer takes nothing). Scores must not
      * be NaN: a NaN is neither better nor worse than any entry, which
      * no sorted order can hold. */
    def insert(b: Array[Byte], p: Double, x: Long): Array[Byte] = {
      if (rejects(b, p, x)) return b
      val k = (b.length - Header) / Slot
      val n = count(b)
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (better(p, x, price(b, mid), id(b, mid))) hi = mid else lo = mid + 1
      }
      val moved = math.min(n, k - 1) - lo
      System.arraycopy(b, Header + lo * Slot, b, Header + (lo + 1) * Slot, moved * Slot)
      writeSlot(b, lo, p, x)
      if (n < k) setCount(b, n + 1)
      b
    }

    /** True iff inserting (p, x) would leave the buffer unchanged —
      * the O(1) fast path [[TopKAgg.reduce]] takes to skip the
      * defensive clone: the clone is O(k) bytes PER ROW, and in steady
      * state almost every row loses to the kth entry (at the
      * corpus-scaled rerank budgets — k in the thousands — the clone
      * would dominate the whole aggregate). */
    def rejects(b: Array[Byte], p: Double, x: Long): Boolean = {
      val k = (b.length - Header) / Slot
      count(b) == k && (k == 0 || !better(p, x, price(b, k - 1), id(b, k - 1)))
    }

    def mergeInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var out = a; var i = 0
      val n = count(b)
      while (i < n) { out = insert(out, price(b, i), id(b, i)); i += 1 }
      out
    }

    def entries(b: Array[Byte]): Seq[(Double, Long)] =
      (0 until count(b)).map(i => (price(b, i), id(b, i)))
  }

  final case class Priced(key: Long, price: Double, id: Long)

  /** Bounded top-K aggregator; one instance per k (the buffer length
    * encodes k, so insert/merge need no extra state). */
  final case class TopKAgg(k: Int) extends Aggregator[Priced, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = TopK.zero(k)
    // NEVER mutate the incoming buffer: Spark may hand the same zero
    // instance (or a shared backing array) to several groups — in-place
    // insertion cross-contaminated groups in testing. The clone is
    // skipped entirely when the row cannot change the buffer (the
    // steady-state case — without this, an O(k)-byte copy per row
    // dominates at corpus-scaled k).
    override def reduce(b: Array[Byte], r: Priced): Array[Byte] =
      if (TopK.rejects(b, r.price, r.id)) b
      else TopK.insert(b.clone(), r.price, r.id)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      TopK.mergeInto(a.clone(), b)
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Buffer = M byte-sized max ranks (rank ≤ 25), encoded BINARY.
    * Parameterized by [[HllParams]]: pick M for the accuracy target
    * (rel-err ~1.04/√M — M=1024 gives ~3.3% for 1 KB of state/group). */
  class HllDistinctAgg(val params: HllParams) extends Aggregator[Long, Array[Byte], Double] {
    import params._
    override def zero: Array[Byte] = new Array[Byte](M)
    // clone before mutating — Spark may share buffer instances across
    // groups (see TopKAgg); harmless for this global aggregate today,
    // load-bearing the day it's used per-key
    override def reduce(b0: Array[Byte], x: Long): Array[Byte] = {
      val b = b0.clone()
      val j = bucket(x)
      val r = rank(x).toByte
      if (r > b(j)) b(j) = r
      b
    }
    override def merge(a0: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val a = a0.clone()
      var j = 0
      while (j < M) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
      a
    }
    override def finish(b: Array[Byte]): Double = estimate(b)
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** The default M=64 instance (the qs1 oracle's sketch). */
  object HllDistinct extends HllDistinctAgg(Hll)

  /** Bloom filter over long keys: buffer = mBits/8 bytes, reduce sets
    * the key's k affine-mod-P bit positions, merge is bytewise OR (a
    * commutative idempotent monoid → partial aggregation safe). The
    * hash family is seed-free integer congruences, so an external
    * oracle replays membership exactly — the reason this exists beside
    * Spark's murmur-based BloomFilterAggregate. Probe with
    * [[HashKernels.bloomMightContain]] / `bloom_might_contain`. */
  class BloomAgg(val mBits: Int, val k: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    require(mBits >= 8 && mBits % 8 == 0, s"mBits must be a positive multiple of 8, got $mBits")
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    override def zero: Array[Byte] = new Array[Byte](mBits / 8)
    // clone before mutating — Spark may share buffer instances (TopKAgg)
    override def reduce(b: Array[Byte], x: Long): Array[Byte] = {
      val c = b.clone()
      graft.functions.HashKernels.bloomSet(c, x, k)
      c
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val c = new Array[Byte](a.length)
      var i = 0
      while (i < a.length) { c(i) = (a(i) | b(i)).toByte; i += 1 }
      c
    }
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}
