package graft.sources

/** The ONE mapping from typed column values to the manifest's LONG
  * stats bands, shared by every producer and consumer so they can never
  * disagree: the one parquet writer folds these keys inline for every
  * commit path ([[SnapshotParquetWriter]]), row-level rewrites filter
  * on the same key as a native column ([[SnapshotTable.bandKeyCol]]),
  * and the read side turns pushed filter literals into [lo, hi] bands
  * ([[SnapshotBatch.bandOf]]).
  *
  * Band semantics per type (`exact` = the key function is INJECTIVE and
  * order-preserving, so a band is the predicate's exact truth set over
  * non-null values — required by metadata deletes and replaceWhere
  * ranges; lossy keys are monotonic only, sound for file PRUNING but
  * never for "fully-inside ⇒ every row matches" proofs):
  *
  *  - integral/boolean: the value itself — exact;
  *  - DATE: days since epoch — exact (the daily-reload pruning case:
  *    the reference's models are date-keyed, `fb_meta_ads_transformed
  *    .sql:6`, `mms_lb_staged.sql:1`);
  *  - TIMESTAMP: versioned — see below;
  *  - STRING: the first 8 UTF-8 bytes as an order-preserving signed
  *    long (big-endian unsigned, sign bit flipped — the Iceberg
  *    truncate(8) idea in one word). Monotonic because unsigned
  *    bytewise comparison of the 8-byte prefix is the first stage of
  *    UTF8String's own comparison; lossy because longer strings share
  *    their prefix's key. The empty string keys to the unknown-MIN
  *    sentinel and an 8×0xFF prefix to unknown-MAX: such files simply
  *    read as stats-unknown — never pruned, conservatively correct.
  *
  * BAND-SEMANTICS VERSIONING (`bandsV`): band keys are PERSISTED in
  * manifests, so their meaning is part of the table format and can only
  * change behind a version marker. A table's bandsV is fixed by its
  * FIRST manifest and inherited by every later commit (mixing key
  * semantics inside one manifest's carried-forward stats would make
  * pruning silently wrong); manifests without the marker read as v1.
  *
  *  - v1 (legacy): TIMESTAMP keys are floor epoch SECONDS — monotonic
  *    but lossy (sub-second neighbors share a band): pruning-only.
  *  - v2 (current): TIMESTAMP keys are epoch MICROSECONDS — Spark's own
  *    physical representation, injective and order-preserving over the
  *    full supported range (±292k years fits a long), so timestamp
  *    bands are EXACT: metadata-only deletes, replaceWhere containment
  *    and manifest-served MIN/MAX all work on timestamp-keyed tables —
  *    the shape a 100 TB ingest table actually has (it is
  *    timestamp-clustered before it is date-clustered).
  */
object BandKeys {

  /** Current band-semantics version for NEW tables. */
  val CurrentBandsV = 2

  /** Order-preserving key of a UTF-8 byte sequence's first 8 bytes. */
  def stringKey(bytes: Array[Byte]): Long = {
    var raw = 0L
    var i = 0
    while (i < 8) {
      raw = (raw << 8) | (if (i < bytes.length) bytes(i) & 0xFFL else 0L)
      i += 1
    }
    raw ^ Long.MinValue
  }

  def stringKey(s: String): Long = stringKey(s.getBytes("UTF-8"))

  /** Upper band bound for `starts with prefix`: the prefix's first 8
    * bytes padded with 0xFF — every string starting with the prefix
    * keys at or below it (and at or above [[stringKey]](prefix)). */
  def stringPrefixHi(prefix: String): Long = {
    val bytes = prefix.getBytes("UTF-8")
    var raw = 0L
    var i = 0
    while (i < 8) {
      raw = (raw << 8) | (if (i < bytes.length) bytes(i) & 0xFFL else 0xFFL)
      i += 1
    }
    raw ^ Long.MinValue
  }

  /** Timestamp key under `bandsV`: v2 = epoch micros (exact — the same
    * long Spark's InternalRow already stores), v1 = floor epoch seconds
    * (lossy; kept for tables whose manifests were written that way). */
  def timestampKey(micros: Long, bandsV: Int): Long =
    if (bandsV >= 2) micros else Math.floorDiv(micros, 1000000L)

  /** MONOTONE compression of one signed band key into `bits` (7-31)
    * bits: a sign bit, then a 6-bit exponent (position of the
    * magnitude's leading bit) and a left-aligned mantissa — the
    * float-compare trick. Unlike plain high-bit truncation (which
    * collapses every small key to one code: band keys cluster near 0,
    * and the sign-flip parks them all under the same top bits), this
    * keeps RELATIVE resolution at every magnitude: consecutive small
    * keys stay distinguishable up to the mantissa width. Monotone by
    * cases — sign, then exponent, then mantissa truncation, each
    * order-preserving. */
  private def monotoneCode(k: Long, bits: Int): Long = {
    def em(u: Long, mBits: Int): Long =
      if (u == 0L) 0L
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(u)
        val frac = u & ((1L << e) - 1L)
        val mant = if (e <= mBits) frac << (mBits - e) else frac >>> (e - mBits)
        ((e + 1).toLong << mBits) | mant
      }
    val m = bits - 7 // 1 sign + 6 exponent + m mantissa
    if (k >= 0L) (1L << (bits - 1)) | em(k, m)
    else (1L << (bits - 1)) - 1L - em(-(k + 1L), m)
  }

  /** DOMINANCE-MONOTONE Morton interleave of 2-8 band keys into one
    * non-negative long — the COMPOSITE delete-key band primitive: each
    * key compresses to 62/n bits via the monotone
    * sign+exponent+mantissa code above, and the per-key bits
    * interleave round-robin with each key's bits in significance
    * order. That placement makes the interleave monotone under the
    * componentwise (dominance) order: if a ≤ b in every coordinate
    * then zBand(a) ≤ zBand(b) — at the highest differing interleaved
    * bit, the owning coordinate's higher bits agree and a carries the
    * 0, exactly the coordinate comparison. So a file whose per-column
    * stats box is [m₁,M₁]×…×[mₙ,Mₙ] has EVERY row's composite key
    * inside [zBand(m…), zBand(M…)], and two boxes with disjoint z
    * intervals provably share no key tuple (the converse may not hold
    * — overlap is conservative, never unsound). Lossy compression only
    * widens the interval, same direction. Property-pinned in
    * ZBandSpec (dominance monotonicity + box cover). */
  def zBand(keys: Seq[Long]): Long = {
    val n = keys.length
    require(n >= 2 && n <= 8, s"zBand takes 2-8 keys, got $n")
    val b = 62 / n
    var z = 0L
    var i = 0
    while (i < n) {
      val u = monotoneCode(keys(i), b)
      var p = 0
      while (p < b) {
        z |= ((u >>> p) & 1L) << (p * n + i)
        p += 1
      }
      i += 1
    }
    z
  }

  /** seconds + sub-second micros as one micros long. The naive
    * `sec * 1e6 + micro` overflows for instants within a second of
    * Long.MinValue micros — floorDiv rounds the seconds DOWN, so the
    * product alone lands below Long.Min before the (always
    * non-negative) sub-second part compensates. Negative seconds
    * compute via (sec + 1) * 1e6 + (micro − 1e6), every intermediate
    * in range whenever the result is representable; genuinely
    * unrepresentable instants still raise (exact arithmetic, never a
    * silent wrap). Found by the keyToCatalyst inverse property test. */
  private def splitMicros(sec: Long, micro: Long): Long =
    if (sec >= 0) Math.addExact(Math.multiplyExact(sec, 1000000L), micro)
    else Math.addExact(
      Math.multiplyExact(Math.addExact(sec, 1L), 1000000L),
      Math.subtractExact(micro, 1000000L))

  private def microsOf(t: java.sql.Timestamp): Long =
    splitMicros(Math.floorDiv(t.getTime, 1000L), (t.getNanos / 1000).toLong)

  private def microsOf(t: java.time.Instant): Long =
    splitMicros(t.getEpochSecond, (t.getNano / 1000).toLong)

  /** A filter literal / collected aggregate value as (band key, exact)
    * under the table's band-semantics version. None = the type has no
    * band mapping (derive nothing, prune nothing — sound). Handles both
    * the legacy java.sql and the java8 datetime literal families Spark
    * hands to V1 filters. */
  def valueKey(v: Any, bandsV: Int): Option[(Long, Boolean)] = v match {
    case i: Int => Some((i.toLong, true))
    case l: Long => Some((l, true))
    case s: Short => Some((s.toLong, true))
    case b: Byte => Some((b.toLong, true))
    case b: Boolean => Some((if (b) 1L else 0L, true))
    case d: java.sql.Date => Some((d.toLocalDate.toEpochDay, true))
    case d: java.time.LocalDate => Some((d.toEpochDay, true))
    case t: java.sql.Timestamp =>
      Some((timestampKey(microsOf(t), bandsV), bandsV >= 2))
    case t: java.time.Instant =>
      Some((timestampKey(microsOf(t), bandsV), bandsV >= 2))
    case s: String => Some((stringKey(s), false))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some((stringKey(u.getBytes), false))
    case _ => None
  }

  /** A band key back as the CATALYST-internal value of `dt` — defined
    * exactly for the types whose key function is injective and
    * order-preserving under `bandsV` (the `exact` rows above), so the
    * manifest's key-space min/max IS the column's value-space min/max.
    * None for lossy keys (STRING always, TIMESTAMP under v1): a prefix
    * key can prune but never BE the answer. Representations follow
    * catalyst ColumnStat's convention (internal values: DATE = epoch
    * days as Int, TIMESTAMP = epoch micros as Long) — what the CBO's
    * estimators consume directly. */
  def keyToCatalyst(key: Long, dt: org.apache.spark.sql.types.DataType,
                    bandsV: Int): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(key)
      case IntegerType | DateType => Some(key.toInt)
      case ShortType => Some(key.toShort)
      case ByteType => Some(key.toByte)
      case BooleanType => Some(key == 1L)
      case TimestampType if bandsV >= 2 => Some(key)
      case _ => None
    }
  }
}

/** TYPED per-file bounds for stats columns whose LONG band key is lossy
  * (today: STRING — the 8-byte-prefix key prunes but cannot answer
  * `min(col)`/`max(col)`). The manifest records the file's actual
  * min/max VALUE, base64-encoded (JSON-safe by construction), capped at
  * [[MaxBytes]] UTF-8 bytes: a longer extremum records [[Absent]] and
  * the consumer declines to a real scan — bounded metadata, exact
  * serving for the short identifier/category strings real tables key
  * on. This is Iceberg's lower/upper_bounds idea with full (not
  * truncated) values under a size gate, because a truncated bound can
  * prune but never BE the answer. Bytewise-unsigned comparison matches
  * both UTF8String's ordering and the engines' binary collation, so
  * min-of-mins / max-of-maxs over files IS the column extremum. */
object TypedBounds {
  /** Marker for "no typed bound recorded" — not valid base64, cannot
    * collide with any encoded value (including the empty string, which
    * encodes to ""). */
  val Absent = "!"
  val MaxBytes = 64

  def encode(bytes: Array[Byte]): String =
    if (bytes.length > MaxBytes) Absent
    else java.util.Base64.getEncoder.encodeToString(bytes)

  def encode(s: String): String = encode(s.getBytes("UTF-8"))

  def decode(t: String): Option[Array[Byte]] =
    if (t == Absent) None
    else scala.util.Try(java.util.Base64.getDecoder.decode(t)).toOption

  /** Unsigned bytewise compare — UTF8String.compareTo's ordering. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  def minOf(a: String, b: String): String =
    if (a == Absent || b == Absent) Absent
    else if (compareBytes(decode(a).get, decode(b).get) <= 0) a else b

  def maxOf(a: String, b: String): String =
    if (a == Absent || b == Absent) Absent
    else if (compareBytes(decode(a).get, decode(b).get) >= 0) a else b
}
