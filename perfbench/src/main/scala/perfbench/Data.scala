package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XXH64, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded row generators. A row is a pure function of (seed, key,
  * generation), so executors and the driver produce identical rows and a
  * seed always yields the same inputs.
  */
object Gen {
  /** A well-mixed 64-bit value for a tuple (splitmix64 finalizer). */
  def mix(a: Long, b: Long, c: Long = 0L): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + c * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(a: Long, b: Long, c: Long = 0L) = new java.util.SplittableRandom(mix(a, b, c))

  private val Day = 86400L * 1000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00Z
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val ordersSchema: StructType = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType)
    .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
    .add("o_orderdate", TimestampType).add("o_orderpriority", StringType)

  def order(seed: Long, key: Long, gen: Int): Row = {
    val r = rng(seed, key, gen)
    Row(key, 1L + r.nextLong(15000L), Statuses(r.nextInt(3)),
      math.rint(r.nextDouble(900.0, 500000.0) * 100) / 100,
      new java.sql.Timestamp(Epoch1992 + r.nextLong(2400L) * Day),
      Priorities(r.nextInt(5)))
  }

  val docsSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)
}

/** Spark's own xxhash64 of a row (seed 42, columns in order), evaluated on
  * the driver with Spark's expression, so the reference can predict the
  * hash the consumer computes over graft's output without asking graft.
  */
final class RowHasher(schema: StructType) extends Serializable {
  @transient private lazy val conv = CatalystTypeConverters.createToCatalystConverter(schema)
  @transient private lazy val expr = XxHash64(
    schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }, 42L)
  def apply(r: Row): Long = expr.eval(conv(r).asInstanceOf[InternalRow]).asInstanceOf[Long]
}

object RowHasher {
  /** Continues a row hash over the change-feed columns appended after the
    * data columns: `_change_type` (string) then `_commit_version` (long),
    * which is how xxhash64 chains over extra columns.
    */
  def extendCdf(rowHash: Long, changeType: String, version: Long): Long = {
    val s = UTF8String.fromString(changeType)
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, rowHash)
    XXH64.hashLong(version, h)
  }
}

/** An order-independent fingerprint of a multiset of rows: the row count
  * and the sums of the high and low 32-bit halves of each row's hash.
  */
final case class Fingerprint(rows: Long, hi: Long, lo: Long) {
  def +(h: Long): Fingerprint = Fingerprint(rows + 1, hi + (h >>> 32), lo + (h & 0xFFFFFFFFL))
  override def toString = s"rows=$rows hi=$hi lo=$lo"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0, 0, 0)
  def of(hashes: Iterator[Long]): Fingerprint = hashes.foldLeft(empty)(_ + _)

  /** Consumes `df` by hashing every one of its columns, so no column can be
    * pruned away; the fingerprint covers the `checked` columns (all when
    * empty), in that order.
    */
  def consume(df: DataFrame, checked: Seq[String] = Nil): Fingerprint = {
    val all = xxhash64(df.columns.toSeq.map(col): _*)
    val h = if (checked.isEmpty) all else xxhash64(checked.map(col): _*)
    val r = df.select(h.as("h"), all.as("a"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)), sum(col("h").bitwiseAND(0xFFFFFFFFL)),
        bit_xor(col("a")))
      .head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0 else r.getLong(1), if (r.isNullAt(2)) 0 else r.getLong(2))
  }
}

/** Every row version the reference ever held, with the version that wrote
  * it (`born`) and the version that removed or replaced it (`died`), so the
  * state at any version and the change feed of any range are both scans of
  * the same arrays. Independent of graft: it is fed the seeded operations.
  */
final class Bitemporal {
  private var n = 0
  private var hash = new Array[Long](1 << 16)
  private var keyA = new Array[Long](1 << 16)
  private var born = new Array[Int](1 << 16)
  private var died = new Array[Int](1 << 16)
  private var bornUpdate = new Array[Boolean](1 << 16)
  private var diedUpdate = new Array[Boolean](1 << 16)
  private val live = new java.util.HashMap[Long, Integer]() // key → entry index

  private def grow(): Unit = if (n == hash.length) {
    val m = n * 2
    hash = java.util.Arrays.copyOf(hash, m)
    keyA = java.util.Arrays.copyOf(keyA, m); born = java.util.Arrays.copyOf(born, m)
    died = java.util.Arrays.copyOf(died, m)
    bornUpdate = java.util.Arrays.copyOf(bornUpdate, m); diedUpdate = java.util.Arrays.copyOf(diedUpdate, m)
  }

  /** Inserts or replaces the row with `key` at `version`. */
  def upsert(key: Long, h: Long, version: Int): Unit = {
    val old = live.get(key)
    if (old != null) { died(old) = version; diedUpdate(old) = true }
    grow()
    keyA(n) = key; hash(n) = h; born(n) = version; died(n) = Int.MaxValue
    bornUpdate(n) = old != null; diedUpdate(n) = false
    live.put(key, n); n += 1
  }

  def delete(key: Long, version: Int): Boolean = {
    val old = live.remove(key)
    if (old != null) died(old) = version
    old != null
  }

  private var perturbed = false

  /** From now on, answers with other row hashes (self-test only). */
  def perturb(): Unit = perturbed = true
  private def hashOf(i: Int): Long = if (perturbed) Gen.mix(hash(i), 1L) else hash(i)

  /** Rows live at `version` whose key is in [keyLo, keyHi). */
  def stateAt(version: Int, keyLo: Long = Long.MinValue, keyHi: Long = Long.MaxValue): Fingerprint = {
    var fp = Fingerprint.empty
    var i = 0
    while (i < n) {
      if (born(i) <= version && died(i) > version && keyA(i) >= keyLo && keyA(i) < keyHi) fp += hashOf(i)
      i += 1
    }
    fp
  }

  /** The change feed of versions `s..e` (inclusive), hashed over the data
    * columns plus `_change_type` and `_commit_version`.
    */
  def changes(s: Int, e: Int): Fingerprint = {
    var fp = Fingerprint.empty
    var i = 0
    while (i < n) {
      if (born(i) >= s && born(i) <= e)
        fp += RowHasher.extendCdf(hashOf(i), if (bornUpdate(i)) "update_postimage" else "insert", born(i))
      if (died(i) >= s && died(i) <= e)
        fp += RowHasher.extendCdf(hashOf(i), if (diedUpdate(i)) "update_preimage" else "delete", died(i))
      i += 1
    }
    fp
  }

  /** (deleted, inserted, updated) rows per version, as a commit's metrics count them. */
  def countsByVersion(): Map[Int, (Long, Long, Long)] = {
    val m = mutable.Map.empty[Int, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    var i = 0
    while (i < n) {
      val (d, ins, u) = m(born(i))
      m(born(i)) = if (bornUpdate(i)) (d, ins, u + 1) else (d, ins + 1, u)
      if (died(i) != Int.MaxValue && !diedUpdate(i)) {
        val (d2, i2, u2) = m(died(i)); m(died(i)) = (d2 + 1, i2, u2)
      }
      i += 1
    }
    m.toMap
  }
}
