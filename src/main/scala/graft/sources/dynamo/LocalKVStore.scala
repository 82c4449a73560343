package graft.sources.dynamo

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.dynamo.ItemJson.Item

/** Table metadata mirroring DynamoDB's key schema + capacity
  * [REF: connector/KeySchema.scala; connector/TableConnector.scala —
  * DescribeTable usage]. `shards` is the physical file fan-out the
  * scan segments map onto (a stand-in for DynamoDB's internal hash
  * partitioning); `throughput` is the provisioned RCU/WCU the rate
  * limiter budgets against.
  */
final case class TableMeta(
    hashKey: String,
    rangeKey: Option[String],
    shards: Int,
    throughput: Long,
    indexes: Map[String, IndexMeta] = Map.empty,
    /** Shard-placement layout version, persisted in meta.json so a
      * store written by an older build keeps reading correctly:
      * 2 (current) places items by the PARTITION (hash) key alone —
      * DynamoDB's model, where sort keys cluster within the partition
      * (a hash-pinned Query touches one shard; co-partition-keyed
      * tables co-locate) — while 1 (legacy, assumed when the field is
      * absent) hashed the full hash|range composite. Layout-dependent
      * features (key-pruned scans, the reported bucket transform)
      * consult this field; a legacy composite table still scans and
      * prunes by its own rules, it just keeps its legacy layout.
      */
    layout: Int = 2,
    /** DynamoDB's `DeletionProtectionEnabled` (UpdateTable): while
      * true, DROP TABLE is rejected. Data operations — writes,
      * truncate/overwrite, TTL reaping — are unaffected, exactly the
      * service's scope (protection guards the table resource, not its
      * items). Absent in metas written before the flag → false.
      */
    deletionProtection: Boolean = false)

/** Secondary-index metadata (A8). `projection = None` means
  * ALL attributes (DynamoDB's `ProjectionType.ALL`); `Some(attrs)`
  * mirrors `INCLUDE` — the index exposes its own keys, the table's
  * primary keys, and `attrs`, nothing else. The index is sparse:
  * items missing ANY index key attribute are invisible through it
  * (DynamoDB's rule — an index with a sort key omits items that lack
  * it) [REF: the reference's `indexName` option surface].
  *
  * `local = true` is a LOCAL secondary index (DynamoDB LSI): same
  * partition key as the table, an ALTERNATE sort key, co-resident
  * with the base partition. The locality buys two semantic upgrades
  * a GSI cannot offer — `stronglyConsistentReads` is honored (the
  * read serves from the base partition's live journal fold, never a
  * possibly-lagging materialized copy; DynamoDB REJECTS
  * ConsistentRead on GSIs), and reads may name attributes OUTSIDE
  * the projection (they fetch transparently from the co-located
  * base item, at base-read cost; on a GSI that is a
  * ValidationException). Placement is the table's own (index hash
  * key == table hash key), so same-shard identities — key-pruned
  * plans, SPJ layout, keyed grouped claims — hold on either path.
  */
final case class IndexMeta(
    hashKey: String,
    rangeKey: Option[String],
    projection: Option[Seq[String]],
    local: Boolean = false)

/** Per-attribute zone-map entry: min/max over the NUMERIC values and
  * over the STRING values an attribute has taken (UTF8String binary
  * order for strings — the same order [[FilterEval]] compares in).
  * Values of other types (bool, binary, list, map) are not ranged;
  * predicates over them never prune — but their PRESENCE is recorded
  * (`other`), because the zone-map-ANSWERED MIN/MAX fast path must
  * know whether any value exists that the ranges cannot describe
  * (a bool coerces into a string-typed read; any of them fails a
  * numeric-typed decode). Stats files written before the flag existed
  * read back as `other = true` — conservative: pruning never consults
  * the flag, and the answer path declines.
  */
final case class AttrStats(
    nMin: Option[BigDecimal], nMax: Option[BigDecimal],
    sMin: Option[String], sMax: Option[String],
    other: Boolean = false,
    /** Non-Null occurrences of the attribute — COUNT(col)'s value
      * under the answer path's family-purity rules. `None` = pre-field
      * stats file.
      */
    present: Option[Long] = Some(0L),
    /** Exact arbitrary-precision sum of the `N` values — SUM over an
      * integral column answers from this when it fits the long range
      * (the scan's own ANSI sum would throw past it). `None` =
      * pre-field stats file.
      */
    nSum: Option[BigDecimal] = Some(BigDecimal(0)),
    /** True while every `N` value seen was WHOLE: a fractional value
      * truncates per-item in an integral-typed decode, so its exact
      * sum diverges from the scan's sum-of-truncations and the SUM
      * answer path must decline. False when read from a pre-field
      * stats file (unknown).
      */
    nWhole: Boolean = true,
    /** HyperLogLog registers (m = 1024, ±~3.2% standard error) over the
      * attribute's NON-NULL values, hashed through a canonical
      * encoding that identifies decode-equal values (N(1) ≡ N(1.0)).
      * Mergeable by register max — the property that lets per-shard
      * sketches written independently at bulk load / compaction fold
      * into a table-wide distinct-count estimate with zero items read
      * (DESCRIBE-TABLE-style NDV for the CBO). `None` = pre-field
      * stats file (unknown; no distinct-count claim).
      */
    hll: Option[Vector[Byte]] = Some(AttrStats.hllZero),
    /** True when some journaled ADD increments this attribute: the
      * FINAL value = base + increments lies in no recorded range, so
      * the numeric range is OPEN — pruning through it is unsound and
      * [[ZoneMap]] must treat any numeric comparison as possibly
      * true. Sticky under union. False when read from pre-field
      * files (they predate ADD ops, so their ranges are closed).
      */
    nOpen: Boolean = false,
    /** Max DECIMAL SCALE over the `N` values seen (trailing zeros
      * stripped; whole values count 0) — the generalization of
      * [[nWhole]] that lets the SUM answer path prove decode-identity
      * for `DecimalType(p, s)` columns: every value with scale ≤ s
      * decodes exactly (no rounding), so the sidecar's exact sum IS
      * the scan's sum. `None` = pre-field stats file (unknown;
      * decimal SUM answering declines).
      */
    nScaleMax: Option[Int] = Some(0)) {
  def union(o: AttrStats): AttrStats = AttrStats(
    (nMin.toSeq ++ o.nMin).minOption,
    (nMax.toSeq ++ o.nMax).maxOption,
    (sMin.toSeq ++ o.sMin).minOption(AttrStats.utf8Order),
    (sMax.toSeq ++ o.sMax).maxOption(AttrStats.utf8Order),
    other || o.other,
    for (a <- present; b <- o.present) yield a + b,
    for (a <- nSum; b <- o.nSum) yield a + b,
    nWhole && o.nWhole,
    for (a <- hll; b <- o.hll)
      yield a.lazyZip(b).map((x, y) => if (x >= y) x else y).toVector,
    nOpen || o.nOpen,
    for (a <- nScaleMax; b <- o.nScaleMax) yield math.max(a, b))
}

object AttrStats {
  // ---- HyperLogLog (m = 1024 registers, 8-bit; ±~3.2%) ----
  // declared BEFORE `empty`: the case-class default `Some(hllZero)`
  // evaluates during `empty`'s construction
  val hllM = 1024
  val hllZero: Vector[Byte] = Vector.fill(hllM)(0: Byte)

  val empty: AttrStats = AttrStats(None, None, None, None)

  /** Canonical value encoding for the sketch hash: identifies exactly
    * the values the decode/compare paths treat as equal (numbers by
    * normalized decimal, not representation) and is total over every
    * AttrVal shape — byte arrays by content, containers recursively.
    */
  def hllEnc(v: AttrVal): String = v match {
    case AttrVal.S(s)    => "s:" + s
    case AttrVal.N(n)    => "n:" + n.bigDecimal.stripTrailingZeros.toPlainString
    case AttrVal.Bool(b) => if (b) "t" else "f"
    case AttrVal.B(b)    => "b:" + java.util.Base64.getEncoder.encodeToString(b)
    case AttrVal.L(xs)   => xs.map(hllEnc).mkString("l[", ",", "]")
    case AttrVal.M(m)    => m.toSeq.sortBy(_._1)
      .map { case (k, x) => k + "=" + hllEnc(x) }.mkString("m{", ",", "}")
    case AttrVal.Null    => "0"
  }

  /** The register one value lands in and its rank, packed as
    * `index << 8 | rank`: two independently-seeded hashes of
    * [[hllEnc]], one picking the register and one supplying the rank
    * bits (avoids the bit-reuse correlation a single 32-bit hash
    * splits into). Strings and numbers hash their tag and payload
    * without building the encoded string.
    */
  def hllSlot(v: AttrVal): Int = v match {
    case AttrVal.S(s) => hllSlot('s', s)
    case AttrVal.N(n) => hllSlot('n', n.bigDecimal.stripTrailingZeros.toPlainString)
    case other =>
      val enc = hllEnc(other)
      slotOf(scala.util.hashing.MurmurHash3.stringHash(enc, hllSeedIdx),
        scala.util.hashing.MurmurHash3.stringHash(enc, hllSeedRank))
  }

  /** [[hllSlot]] of the encoding `tag + ":" + body`, hashed in place:
    * the same values `MurmurHash3.stringHash` computes over the
    * concatenated string, whose first two chars form its first block.
    */
  private[dynamo] def hllSlot(tag: Char, body: String): Int = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}
    val first = (tag << 16) + ':'
    var hi = mix(hllSeedIdx, first)
    var hr = mix(hllSeedRank, first)
    val n = body.length
    var i = 0
    while (i + 1 < n) {
      val data = (body.charAt(i) << 16) + body.charAt(i + 1)
      hi = mix(hi, data); hr = mix(hr, data)
      i += 2
    }
    if (i < n) {
      hi = mixLast(hi, body.charAt(i).toInt); hr = mixLast(hr, body.charAt(i).toInt)
    }
    slotOf(finalizeHash(hi, n + 2), finalizeHash(hr, n + 2))
  }

  private val hllSeedIdx = 0x5bd1e995
  private val hllSeedRank = 0x9747b28c
  private def slotOf(hi: Int, hr: Int): Int =
    ((hi & (hllM - 1)) << 8) | (java.lang.Integer.numberOfTrailingZeros(hr | 0x80000000) + 1)

  def hllAdd(regs: Vector[Byte], v: AttrVal): Vector[Byte] = {
    val slot = hllSlot(v)
    val idx = slot >>> 8
    val rank = (slot & 0xff).toByte
    if (rank > regs(idx)) regs.updated(idx, rank) else regs
  }

  /** Standard HLL estimate with the small-range linear-counting
    * correction. The switch is decided on the LINEAR-COUNT value
    * (use it while it stays below 2.5m and zero registers remain),
    * not the raw estimate — the raw estimator biases high in the
    * n ≈ m transition zone, where gating on it would skip the
    * correction exactly when it is needed.
    */
  def hllEstimate(regs: Vector[Byte]): Long = {
    val m = regs.size
    val zeros = regs.count(_ == 0)
    val lc = if (zeros > 0) m * math.log(m.toDouble / zeros) else Double.MaxValue
    val e =
      if (zeros > 0 && lc <= 2.5 * m) lc
      else {
        val alpha = 0.7213 / (1 + 1.079 / m)
        alpha * m * m / regs.iterator.map(r => math.pow(2.0, -r.toDouble)).sum
      }
    math.max(1L, math.round(e))
  }
  /** UTF8String (code-point) order — [[FilterEval.cmp]]'s string
    * order; java's compareTo disagrees on supplementary characters.
    */
  val utf8Order: Ordering[String] = (a: String, b: String) => utf8Compare(a, b)
  /** The sign of `UTF8String.fromString(a).compareTo(fromString(b))`,
    * computed on the chars: UTF-8 byte order is code-point order, and
    * an unpaired surrogate encodes as the replacement byte '?'.
    */
  def utf8Compare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0; var j = 0
    while (i < la && j < lb) {
      val ca = a.charAt(i); val cb = b.charAt(j)
      if (ca == cb && !Character.isSurrogate(ca)) { i += 1; j += 1 }
      else {
        val pa = utf8CodePoint(a, i); val pb = utf8CodePoint(b, j)
        if (pa != pb) return if (pa < pb) -1 else 1
        i += Character.charCount(pa); j += Character.charCount(pb)
      }
    }
    if (i < la) 1 else if (j < lb) -1 else 0
  }
  /** The code point the UTF-8 encoder writes for the char at `i`. */
  private def utf8CodePoint(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (!Character.isSurrogate(c)) c
    else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1)))
      Character.toCodePoint(c, s.charAt(i + 1))
    else '?'
  }
  def sLe(a: String, b: String): Boolean = utf8Order.lteq(a, b)
  def sGe(a: String, b: String): Boolean = utf8Order.gteq(a, b)
}

/** One shard's zone map. `complete = true` means `attrs` covers EVERY
  * attribute occurring in the covered items (so an attribute ABSENT
  * from the map provably never occurs, and an equality/range predicate
  * on it can never be TRUE). Accumulators flip it off past
  * [[ShardStats.maxTrackedAttrs]] attributes; a fold with ANY
  * incomplete piece disables pruning for the shard — soundness never
  * rests on a partial map.
  *
  * `items` counts the records this map covers: for BASE shard maps
  * (bulk load / compaction, one live item per line) that is the
  * shard's exact item count — DynamoDB's `DescribeTable` ItemCount,
  * kept exact — which lets an unfiltered `COUNT(*)` answer from the
  * sidecars when the journal is empty. For journal maps it counts ops
  * (not net items); the answer path never consults those. `None` =
  * written before the field existed.
  */
final case class ShardStats(attrs: Map[String, AttrStats], complete: Boolean,
    items: Option[Long] = Some(0L)) {
  /** This map widened by one item ([[ShardStats.Builder.add]]). */
  def widen(item: Item): ShardStats = ShardStats.Builder.from(this).add(item).result()
  def union(o: ShardStats): ShardStats = ShardStats(
    (attrs.keySet ++ o.attrs.keySet).map(a =>
      a -> attrs.getOrElse(a, AttrStats.empty)
        .union(o.attrs.getOrElse(a, AttrStats.empty))).toMap,
    complete && o.complete,
    for (a <- items; b <- o.items) yield a + b)
}

object ShardStats {
  val maxTrackedAttrs = 64
  val empty: ShardStats = ShardStats(Map.empty, complete = true)

  /** The one zone-map fold: a mutable accumulator every writer widens
    * item by item, in place — per-attribute min/max, counts, exact sum
    * and scale kept as fields, HLL registers in an array — and turns
    * into a [[ShardStats]] once per written file. Folding items into a
    * builder equals folding them one by one into immutable maps (the
    * StoreLawsSpec accumulator law pins the JSON byte for byte).
    *
    * An attribute's first value claims one of [[maxTrackedAttrs]]
    * slots in the item's own iteration order; past them `complete`
    * flips off. A builder seeded with a map ([[Builder.from]]) only
    * materializes the attributes it touches, and a sketch keeps its
    * first changed registers beside the seed's vector until enough
    * change to make a dense array pay, so a one-item widen costs what
    * it always did.
    */
  final class Builder private (seed: ShardStats, sketch: Boolean) {
    private val seeded = seed.attrs
    private val accs = new java.util.HashMap[String, AttrAcc]()
    private val touched = mutable.ArrayBuffer.empty[String] // first-touch order
    private var added = 0 // tracked attributes the seed did not have
    private var complete = seed.complete
    private val counting = seed.items.isDefined
    private var items = seed.items.getOrElse(0L)
    // the previous item's attributes by position: a writer's items
    // mostly share one attribute set, iterated in one order over the
    // same name strings, so a reference compare replaces the lookup
    private var memoNames = new Array[String](16)
    private var memoAccs = new Array[AttrAcc](16)
    private var pos = 0

    /** The accumulator of the item's next attribute, `a`; null when
      * `a` is not tracked.
      */
    private def next(a: String): AttrAcc = {
      val i = pos
      pos += 1
      if (i < memoNames.length && (memoNames(i) eq a)) memoAccs(i)
      else {
        val c = acc(a)
        if (i >= memoNames.length) {
          memoNames = java.util.Arrays.copyOf(memoNames, 2 * i)
          memoAccs = java.util.Arrays.copyOf(memoAccs, 2 * i)
        }
        memoNames(i) = a; memoAccs(i) = c
        c
      }
    }

    private def acc(a: String): AttrAcc = {
      var c = accs.get(a)
      if (c == null) seeded.get(a) match {
        case Some(as) =>
          c = new AttrAcc(as, sketch); accs.put(a, c); touched += a
        case None =>
          if (seeded.size + added < maxTrackedAttrs) {
            c = new AttrAcc(AttrStats.empty, sketch); accs.put(a, c); touched += a
            added += 1
          } else complete = false
      }
      c
    }
    // saturated and empty: no attribute can ever be tracked again
    private def ranging: Boolean = complete || seeded.nonEmpty || added > 0

    def add(item: Item): this.type = {
      pos = 0
      if (ranging) item.foreachEntry { (a, v) =>
        val c = next(a)
        if (c != null) c.widen(v)
      }
      items += 1
      this
    }

    /** An ADD op's item: key attrs widen normally, each increment
      * opens its attribute's range ([[AttrAcc.widenIncrement]]).
      */
    def addIncrements(item: Item, adds: Map[String, BigDecimal]): this.type = {
      pos = 0
      if (ranging) item.foreachEntry { (a, v) =>
        val c = next(a)
        if (c != null) adds.get(a) match {
          case Some(d) => c.widenIncrement(d)
          case None => c.widen(v)
        }
      }
      items += 1
      this
    }

    /** The journal rule, shared by every WAL and transaction writer:
      * deletes and attribute removals widen nothing (removing never
      * ADDS values); path edits widen the key and record each edited
      * top-level attr as an opaque document (`other`), so the union
      * claims no min/max/NDV for a value only replay can know; ADD
      * increments open their ranges; every other op widens its item —
      * an update's merged result draws each value from the base
      * (covered by the base stats) or the update item (covered here).
      */
    def addOp(op: LocalKVStore#Op): this.type = op match {
      case _: LocalKVStore#Delete | _: LocalKVStore#RemoveAttrs |
          _: LocalKVStore#RemoveAttrsIfExists => this
      case pe: LocalKVStore#PathEdits =>
        add(pe.key ++ pe.edits.collect {
          case LocalKVStore.PathEdit(Left(t) +: _, _, _) =>
            t -> (AttrVal.M(Map.empty): AttrVal)
        }.toMap)
      case a: LocalKVStore#AddTo => addIncrements(a.item, a.adds)
      case _ => add(op.item)
    }

    def result(): ShardStats = ShardStats(
      touched.foldLeft(seeded)((m, a) => m.updated(a, accs.get(a).result())),
      complete,
      if (counting) Some(items) else None)
  }

  object Builder {
    def apply(): Builder = new Builder(empty, sketch = true)
    def from(seed: ShardStats): Builder = new Builder(seed, sketch = true)
    /** Page-grain statistics: no NDV sketch, which a page directory
      * never stores.
      */
    def withoutSketch(): Builder = new Builder(empty, sketch = false)
  }

  /** One attribute's [[AttrStats]] under accumulation. */
  private final class AttrAcc(seed: AttrStats, sketch: Boolean) {
    private var nMin: BigDecimal = seed.nMin.orNull
    private var nMax: BigDecimal = seed.nMax.orNull
    private var sMin: String = seed.sMin.orNull
    private var sMax: String = seed.sMax.orNull
    private var other = seed.other
    private val counting = seed.present.isDefined
    private var present = if (counting) seed.present.get else 0L
    // summed as AttrStats' own `+` does: in the seed sum's MathContext
    private val sumMc = if (seed.nSum.isDefined) seed.nSum.get.mc else null
    private var nSum: java.math.BigDecimal =
      if (seed.nSum.isDefined) seed.nSum.get.bigDecimal else null
    private var nWhole = seed.nWhole
    private var nOpen = seed.nOpen
    private val scaled = seed.nScaleMax.isDefined
    private var nScaleMax = if (scaled) seed.nScaleMax.get else 0
    private var sketching = sketch && seed.hll.isDefined
    // registers: the seed's vector plus up to `sparseMax` changed
    // registers (`index << 8 | rank`), then one dense array
    private var regs: Vector[Byte] = seed.hll.orNull
    private var changes: Array[Int] = null
    private var nChanges = 0
    private var regArr: Array[Byte] = null

    def widen(v: AttrVal): Unit = v match {
      case AttrVal.N(n) =>
        if (nMin == null || nMin.compare(n) > 0) nMin = n
        if (nMax == null || nMax.compare(n) < 0) nMax = n
        val stripped = number(n)
        // `AttrStats.hllEnc`'s number form: an integral scale's plain
        // form is already the stripped one
        if (sketching) sketchAdd(AttrStats.hllSlot('n',
          if (stripped == null) n.bigDecimal.toPlainString else stripped.toPlainString))
      case AttrVal.S(s) =>
        if (sMin == null || AttrStats.utf8Compare(sMin, s) > 0) sMin = s
        if (sMax == null || AttrStats.utf8Compare(sMax, s) < 0) sMax = s
        present += 1
        if (sketching) sketchAdd(AttrStats.hllSlot('s', s))
      case AttrVal.Null => () // reads as null everywhere: harmless
      case _ =>
        other = true
        present += 1
        if (sketching) sketchAdd(AttrStats.hllSlot(v))
    }

    /** ADD increment: the final value is base-dependent, so the range
      * opens (`nOpen`) and the NDV sketch degrades to unknown; the sum
      * delta stays EXACT (final sum = base sum + increments, whether
      * the attr existed or not) and whole-ness composes under union
      * (fractional base ⇒ base sidecar already reports false); the
      * final scale is at most the larger of the two scales.
      */
    def widenIncrement(d: BigDecimal): Unit = {
      sketching = false; regs = null; changes = null; regArr = null
      number(d)
      nOpen = true
    }

    /** The count, sum, whole-ness and scale an `N` value adds; returns
      * its trailing-zeros-stripped form when one was needed (a
      * fractional scale), else null. The strip runs at most once per
      * value, and only while whole-ness or the scale bound can still
      * change or the sketch needs the canonical form.
      */
    private def number(n: BigDecimal): java.math.BigDecimal = {
      present += 1
      val bd = n.bigDecimal
      if (nSum != null) {
        // an exact sum that fits the context is what the rounding add
        // returns, without inflating both operands to BigIntegers
        val exact = nSum.add(bd)
        nSum = if (exact.precision <= sumMc.getPrecision) exact else nSum.add(bd, sumMc)
      }
      val sc = bd.scale
      if (sc <= 0) { if (scaled && nScaleMax < 0) nScaleMax = 0; null }
      else {
        val stripped =
          if (sketching || nWhole || (scaled && sc > nScaleMax)) bd.stripTrailingZeros
          else null
        if (stripped != null) {
          if (nWhole && stripped.scale > 0) nWhole = false
          if (scaled) nScaleMax = math.max(nScaleMax, math.max(0, stripped.scale))
        }
        stripped
      }
    }

    private def sketchAdd(slot: Int): Unit = {
      val idx = slot >>> 8
      val rank = (slot & 0xff).toByte
      if (regArr != null) { if (rank > regArr(idx)) regArr(idx) = rank }
      else if (rank > regs(idx)) {
        var i = 0
        while (i < nChanges && (changes(i) >>> 8) != idx) i += 1
        if (i < nChanges) { if (rank > (changes(i) & 0xff)) changes(i) = slot }
        else if (nChanges < AttrAcc.sparseMax) {
          if (changes == null) changes = new Array[Int](AttrAcc.sparseMax)
          changes(nChanges) = slot; nChanges += 1
        } else {
          regArr = new Array[Byte](AttrStats.hllM)
          val it = regs.iterator
          var r = 0
          while (r < regArr.length) { regArr(r) = it.next(); r += 1 }
          var c = 0
          while (c < nChanges) { regArr(changes(c) >>> 8) = (changes(c) & 0xff).toByte; c += 1 }
          regArr(idx) = rank
          regs = null; changes = null
        }
      }
    }

    private def registers: Vector[Byte] =
      if (regArr != null) {
        val b = Vector.newBuilder[Byte]
        var i = 0
        while (i < regArr.length) { b += regArr(i); i += 1 }
        b.result()
      } else {
        var v = regs
        var c = 0
        while (c < nChanges) { v = v.updated(changes(c) >>> 8, (changes(c) & 0xff).toByte); c += 1 }
        v
      }

    def result(): AttrStats = AttrStats(
      Option(nMin), Option(nMax), Option(sMin), Option(sMax), other,
      if (counting) Some(present) else None,
      if (nSum == null) None else Some(new BigDecimal(nSum, sumMc)),
      nWhole,
      if (sketching) Some(registers) else None,
      nOpen,
      if (scaled) Some(nScaleMax) else None)
  }

  private object AttrAcc {
    /** Changed registers kept beside the seed vector before switching
      * to one dense array (a one-item widen changes at most one).
      */
    val sparseMax = 32
  }

  def toJson(st: ShardStats): String = {
    def num(v: Option[BigDecimal]) = v.map(AttrVal.N).getOrElse(AttrVal.Null)
    def str(v: Option[String]) = v.map(AttrVal.S).getOrElse(AttrVal.Null)
    ItemJson.write(Map(
      "complete" -> AttrVal.Bool(st.complete),
      "items" -> st.items.map(n => AttrVal.N(BigDecimal(n)): AttrVal)
        .getOrElse(AttrVal.Null),
      "attrs" -> AttrVal.M(st.attrs.map { case (a, s) =>
        a -> AttrVal.M(Map("nMin" -> num(s.nMin), "nMax" -> num(s.nMax),
          "sMin" -> str(s.sMin), "sMax" -> str(s.sMax),
          "other" -> AttrVal.Bool(s.other),
          "present" -> num(s.present.map(BigDecimal(_))),
          "nSum" -> num(s.nSum),
          "nWhole" -> AttrVal.Bool(s.nWhole),
          "nOpen" -> AttrVal.Bool(s.nOpen),
          "nScale" -> num(s.nScaleMax.map(BigDecimal(_))),
          "hll" -> s.hll.map(r => AttrVal.S(java.util.Base64.getEncoder
            .encodeToString(r.toArray)): AttrVal).getOrElse(AttrVal.Null)))
      })))
  }

  def fromJson(s: String): ShardStats = {
    val m = ItemJson.parse(s)
    def num(v: AttrVal) = v match { case AttrVal.N(n) => Some(n); case _ => None }
    def str(v: AttrVal) = v match { case AttrVal.S(x) => Some(x); case _ => None }
    ShardStats(
      m("attrs").asInstanceOf[AttrVal.M].v.map { case (a, AttrVal.M(f)) =>
        a -> AttrStats(num(f("nMin")), num(f("nMax")), str(f("sMin")), str(f("sMax")),
          // absent in pre-flag files: assume unranged values may exist
          f.get("other") match { case Some(AttrVal.Bool(b)) => b; case _ => true },
          f.get("present").flatMap(num).map(_.toLong),
          f.get("nSum").flatMap(num),
          f.get("nWhole") match { case Some(AttrVal.Bool(b)) => b; case _ => false },
          f.get("hll").flatMap(str).flatMap { b64 =>
            val bytes = try java.util.Base64.getDecoder.decode(b64)
              catch { case _: IllegalArgumentException => Array.empty[Byte] }
            // wrong-width registers = unreadable sketch, not a crash
            if (bytes.length == AttrStats.hllM) Some(bytes.toVector) else None
          },
          f.get("nOpen") match { case Some(AttrVal.Bool(b)) => b; case _ => false },
          // absent in pre-field files: scale unknown, decimal SUM declines
          f.get("nScale").flatMap(num).map(_.toInt))
      case (a, other) => throw new IllegalStateException(s"bad attr stats $a: $other")
      },
      m("complete") match { case AttrVal.Bool(b) => b; case _ => false },
      m.get("items") match {
        case Some(AttrVal.N(n)) => Some(n.toLong)
        case _ => None // pre-field files: count unknown
      })
  }
}

/** Deterministic file-backed item store emulating the DynamoDB data
  * model for the offline environment (SURVEY.md §7 M2) — the
  * connector's "service endpoint". Layout per table:
  *
  * {{{
  *   <dir>/<table>/meta.json
  *   <dir>/<table>/shard-NNN.jsonl      base items (one wire-JSON item per line)
  *   <dir>/<table>/wal-<seq>-<id>.jsonl put/update/delete journal entries
  *   <dir>/<table>/zstat-shard-sNNN.json  zone map of shard-NNN (bulk load/compaction)
  *   <dir>/<table>/zstat-<seq>-<id>-sNNN.json  zone map of one WAL file's op items
  * }}}
  *
  * Zone maps ([[ShardStats]]) are written beside the data they cover
  * and only ever OVER-approximate the live values (writes widen them;
  * deletes and TTL expiry narrow nothing until compaction rewrites
  * them exactly), so [[DynamoScan]] can skip a whole shard when a
  * pushed range predicate excludes its value range — sound by
  * construction, and a missing/unreadable stats file just disables
  * the skip. A WAL file's stats publish BEFORE the WAL rename, so a
  * visible journal file implies visible stats; a racing listing that
  * catches the gap sees stats missing and declines to prune.
  *
  * Segmented scans mirror DynamoDB's `Scan(segment, totalSegments)`:
  * shard files are assigned round-robin to segments, so N segments
  * read disjoint item sets in parallel with no coordination — the
  * property that lets a 1000-executor cluster scan one table without
  * contention. Writes append WAL files (no read-modify-write of
  * shards), matching the reference's non-atomic commit model
  * [REF: datasource/DynamoBatchWrite.scala — commit/abort no-ops].
  */
final class LocalKVStore(root: String) {

  /** Store root path — sibling helpers ([[Replication]]) place their
    * sidecar files relative to it.
    */
  private[dynamo] def rootDir: String = root

  private def tableDir(table: String): Path = Paths.get(root, table)

  def exists(table: String): Boolean =
    Files.isRegularFile(tableDir(table).resolve("meta.json"))

  // ---- metadata ----

  def createTable(table: String, meta: TableMeta): Unit = {
    val dir = tableDir(table)
    Files.createDirectories(dir)
    val idxs: Item = meta.indexes.map { case (name, ix) =>
      name -> AttrVal.M(Map(
        "hashKey" -> AttrVal.S(ix.hashKey),
        "rangeKey" -> ix.rangeKey.map(AttrVal.S).getOrElse(AttrVal.Null),
        "projection" -> ix.projection
          .map(p => AttrVal.L(p.map(AttrVal.S).toVector))
          .getOrElse(AttrVal.Null),
        "local" -> AttrVal.Bool(ix.local)))
    }
    val m: Item = Map(
      "hashKey" -> AttrVal.S(meta.hashKey),
      "rangeKey" -> meta.rangeKey.map(AttrVal.S).getOrElse(AttrVal.Null),
      "shards" -> AttrVal.N(BigDecimal(meta.shards)),
      "throughput" -> AttrVal.N(BigDecimal(meta.throughput)),
      "layout" -> AttrVal.N(BigDecimal(meta.layout)),
      "deletionProtection" -> AttrVal.Bool(meta.deletionProtection),
      "indexes" -> AttrVal.M(idxs))
    Files.write(dir.resolve("meta.json"), ItemJson.write(m).getBytes(UTF_8))
  }

  // ---- restore quarantine ----
  //
  // A PITR restore is multi-file (data replay → fold → index
  // rebuilds); a crash mid-way would otherwise leave a table that
  // READS fine but silently misses rows or whole indexes. The restore
  // job therefore writes `restore-pending.json` into the destination
  // BEFORE the table's meta.json exists and removes it only after the
  // last index build: every connector entry point (scan/write/catalog
  // load) refuses a pending table loudly, and a rerun of the restore
  // wipes the partial state and converges (replay is deterministic).
  // Store primitives stay unrestricted — the restore itself folds and
  // backfills through them.

  private def restorePendingPath(table: String): Path =
    tableDir(table).resolve("restore-pending.json")

  /** The in-flight/crashed restore's provenance (src root, src table,
    * cut), or None when the table is not quarantined.
    */
  def restorePending(table: String): Option[String] = {
    val p = restorePendingPath(table)
    // A finishing restore deletes the marker between the check and
    // the read: the marker is gone, so the table is not quarantined.
    if (Files.isRegularFile(p))
      try Some(new String(Files.readAllBytes(p), UTF_8))
      catch { case _: java.nio.file.NoSuchFileException => None }
    else None
  }

  /** Connector-boundary gate: loud failure instead of a silently
    * partial read or a write racing an in-flight restore.
    */
  def assertNotRestorePending(table: String): Unit = {
    restorePending(table).foreach { info =>
      throw new IllegalStateException(
        s"table '$table' has an incomplete point-in-time restore " +
          s"($info): rerun DynamoMaintenance.restoreAsOf to complete " +
          "it, or delete the table directory")
    }
    // same gate, second quarantine class: a crashed backup copy. A
    // torn backup destination can LOOK valid (a re-backup that died
    // between its journal and base copies leaves the PRIOR manifest
    // matching the prior base files — with rows folded between the
    // two backups silently missing), so the marker is the only
    // honest signal.
    if (Files.isRegularFile(tableDir(table).resolve("_backup_pending")))
      throw new IllegalStateException(
        s"table '$table' is a crashed backup destination (the copy " +
          "never completed): rerun backupTable to complete it, or " +
          "delete the table directory")
    // third class: a crashed bulk import into a table the import
    // itself created — readable-but-half-loaded is the service's
    // ImportTable FAILED state, not a table (rerunning the import
    // with the same source converges: keyed Puts are idempotent).
    if (Files.isRegularFile(tableDir(table).resolve("_import_pending")))
      throw new IllegalStateException(
        s"table '$table' is a half-loaded import destination (the " +
          "import never completed): rerun importDynamoJson with the " +
          "same source to complete it, or delete the table directory")
  }

  private[dynamo] def markImportPending(table: String, info: String): Unit = {
    Files.createDirectories(tableDir(table))
    Files.write(tableDir(table).resolve("_import_pending"),
      info.getBytes(UTF_8))
  }

  private[dynamo] def importPending(table: String): Boolean =
    Files.isRegularFile(tableDir(table).resolve("_import_pending"))

  private[dynamo] def clearImportPending(table: String): Unit =
    Files.deleteIfExists(tableDir(table).resolve("_import_pending"))

  private[dynamo] def markRestorePending(table: String, srcRoot: String,
      srcTable: String, asOfSeq: Long): Unit = {
    Files.createDirectories(tableDir(table))
    Files.write(restorePendingPath(table), ItemJson.write(Map(
      "srcRoot" -> AttrVal.S(srcRoot), "srcTable" -> AttrVal.S(srcTable),
      "asOfSeq" -> AttrVal.N(BigDecimal(asOfSeq)))).getBytes(UTF_8))
  }

  private[dynamo] def clearRestorePending(table: String): Unit =
    Files.deleteIfExists(restorePendingPath(table))

  /** Remove a crashed restore's partial destination entirely (meta,
    * data, sidecars, the marker) so the rerun starts from nothing.
    */
  private[dynamo] def wipeTableDir(table: String): Unit = {
    val dir = tableDir(table)
    if (Files.isDirectory(dir)) {
      // deepest-first: spill subdirs (gsi-tmp-*, reshard-tmp) from the
      // crashed run must empty before their parent deletes
      val stream = Files.walk(dir)
      try stream.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
  }

  /** Register a GSI on an existing table and BACKFILL its physical
    * copy (DynamoDB creates an index by backfilling it from the
    * table). Reads serve from the materialized copy while it is
    * provably fresh ([[indexFresh]]) and fall back to the projected
    * base-scan view otherwise — DynamoDB's eventual consistency,
    * collapsed to "exactly current or recomputed from base".
    */
  def createIndex(table: String, name: String, index: IndexMeta): Unit = {
    val meta = describe(table)
    if (index.local) {
      // DynamoDB's LSI shape rules: an LSI shares the table's
      // partition key exactly, supplies an ALTERNATE sort key, and
      // requires a composite-key base table (an LSI on a hash-only
      // table has nothing to re-sort within a partition).
      require(index.hashKey == meta.hashKey,
        s"local index '$name' must use the table's partition key " +
          s"'${meta.hashKey}' (got '${index.hashKey}')")
      require(index.rangeKey.nonEmpty,
        s"local index '$name' requires an alternate sort key")
      require(meta.rangeKey.nonEmpty,
        s"local index '$name' requires a composite-key base table " +
          s"(table '$table' has no sort key)")
    }
    createTable(table, meta.copy(indexes = meta.indexes + (name -> index)))
    buildIndex(table, name)
  }

  // ---- materialized GSI copies ----
  //
  // Files: gsi-<name>-shard-NNN.jsonl — projected index items placed
  // by the INDEX hash key (floorMod(enc.hashCode, shards), the same
  // function base placement uses on the table key), so an index-key
  // pinned read touches one index shard: DynamoDB's actual GSI
  // layout, where the index is its own hash-partitioned table.
  // Marker: gsi-<name>.meta = "<viewVersion> <shards>", written last
  // (atomic rename). The copy serves reads only while the marker's
  // version equals the CURRENT [[viewVersion]] and its shard count
  // matches the table's — any later write (or reshard) makes the copy
  // stale and reads fall back to the base-scan path until the next
  // build (compaction rebuilds registered indexes).

  /** Version stamp of the table's merged view, compared for EQUALITY
    * by [[indexFresh]]: (max publish seq ever to enter the view,
    * live journal-file count, compaction watermark). The max alone
    * is NOT collision-proof — a write publishing in the same
    * millisecond as the previous maximum reuses its pubSeq — but no
    * single store transition leaves all three components fixed: a
    * write raises the count (or the max), compaction lowers the
    * count and raises the watermark. Spurious inequality (e.g. right
    * after compaction, before the index rebuild) only costs a
    * base-path read, never a stale serve.
    */
  def viewVersion(table: String): String = {
    val pubs = listFiles(table, "wal-").map(walPubSeq)
    val mx = (pubs :+ compactionWatermark(table)).max
    s"$mx:${pubs.size}:${compactionWatermark(table)}"
  }

  def indexShardOf(meta: TableMeta, hashVal: AttrVal): Int =
    math.floorMod(encKeyAttr(hashVal).hashCode, meta.shards)

  /** Marker payload a backfill stamps on completion, captured BEFORE
    * the build scans (a write racing the build then compares stale /
    * lands in the delta — never a torn serve). Beyond the exact
    * `viewVersion` + shard count, it records WHICH journal the build
    * folded, in a form [[indexFreshness]] can re-derive from a later
    * listing: `foldedMax` (max pubSeq folded; later files are the
    * delta) guarded by `belowCount` (how many files sat at or below
    * that max — a file published LATER with a colliding pubSeq bumps
    * the count and demotes to Stale instead of silently hiding in the
    * folded set) and the compaction watermark (compaction deletes
    * journal files, making the delta unenumerable — watermark drift
    * demotes to Stale; compaction rebuilds indexes anyway).
    */
  def indexBuildStamp(table: String): String = {
    val files = listFiles(table, "wal-")
    val foldedMax = files.map(walPubSeq).maxOption.getOrElse(0L)
    s"${viewVersion(table)} ${describe(table).shards} " +
      s"$foldedMax ${files.size} ${compactionWatermark(table)}"
  }

  /** Backfill one index from the current merged view: stream every
    * visible item, project through [[indexView]] (sparse items drop),
    * place by index hash key. Build stamp captured BEFORE the scan — a
    * write racing the build publishes a higher pubSeq, so the marker
    * compares stale (or delta) and readers never get a torn serve.
    */
  def buildIndex(table: String, name: String): Unit = {
    val meta = describe(table)
    val ix = meta.indexes.getOrElse(name,
      throw new IllegalArgumentException(s"no index '$name' on $table"))
    val stamp = indexBuildStamp(table)
    val dir = tableDir(table)
    // Spill per-shard to unsorted tmp files, then sort+write ONE shard
    // at a time — the in-memory bound is one index shard (the same
    // bound compaction and finishIndexBuild honor), never the whole
    // table. Dot-prefixed dir: invisible to every `listFiles` prefix.
    val tmp = dir.resolve(s".gsi-build-$name")
    Files.createDirectories(tmp)
    clearSpillDir(table, s".gsi-build-$name") // crashed-run parts would resurrect
    val stats = Array.fill(meta.shards)(ShardStats.Builder())
    val writers = mutable.HashMap.empty[Int, java.io.BufferedWriter]
    try scanSegment(table, 0, 1).map(_._1)
      .flatMap(indexView(meta, ix, _))
      .foreach { it =>
        val is = indexShardOf(meta, it(ix.hashKey))
        val w = writers.getOrElseUpdate(is, Files.newBufferedWriter(
          tmp.resolve(f"part-$is%03d.jsonl"), UTF_8))
        w.write(ItemJson.write(it)); w.write("\n")
        stats(is).add(it)
      }
    finally writers.values.foreach(_.close())
    (0 until meta.shards).foreach { i =>
      val part = tmp.resolve(f"part-$i%03d.jsonl")
      val items = Vector.newBuilder[Item]
      if (Files.isRegularFile(part)) {
        val lines = Files.lines(part, UTF_8)
        try lines.iterator().asScala.filter(_.nonEmpty)
          .foreach(l => items += ItemJson.parse(l))
        finally lines.close()
        Files.deleteIfExists(part)
      }
      // sorted copy + page directory — the GSI Query layout
      writeIndexShardSorted(table, name, ix, i, items.result())
      writeIndexZoneStats(table, name, i, stats(i).result())
    }
    Files.deleteIfExists(tmp)
    // publish under the table lock, clearing any write-through journal
    // first: rounds were derived RELATIVE TO the old copy — replaying
    // them over the rebuilt one (which already folded their writes)
    // would regress keys to older images. The lock serializes this
    // against a concurrent applier round.
    underTxnLock(table) {
      dropIndexJournal(table, name)
      val mTmp = dir.resolve(s".gsi-$name.meta.tmp")
      Files.write(mTmp, stamp.getBytes(UTF_8))
      Files.move(mTmp, dir.resolve(s"gsi-$name.meta"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Remove one index's write-through journal (rounds + applied
    * marker) — every path that republishes the copy from scratch must
    * call this BEFORE its new build marker lands.
    */
  private def dropIndexJournal(table: String, name: String): Unit = {
    Files.deleteIfExists(tableDir(table).resolve(s"gsi-applied-$name.meta"))
    listRoundFiles(table, name).foreach(Files.deleteIfExists(_))
  }

  // ---- per-index-shard zone maps ----
  //
  // `gsi-zstat-<name>-sNNN.json` — the index copy's own sidecars
  // (projected items placed by INDEX hash, so BASE-shard stats say
  // nothing about an index shard): exact at every build, written
  // before the marker, deleted with the other `gsi-` files when any
  // path invalidates the copy. Planning consults them only while the
  // serve is overlay-free (the delta adds images the copy's stats
  // never saw — pruning through them would drop those rows).

  private[dynamo] def writeIndexZoneStats(
      table: String, name: String, shard: Int, st: ShardStats): Unit = {
    val dir = tableDir(table)
    val tmp = dir.resolve(f".gsi-zstat-$name-s$shard%03d.json.tmp")
    Files.write(tmp, ShardStats.toJson(st).getBytes(UTF_8))
    Files.move(tmp, dir.resolve(f"gsi-zstat-$name-s$shard%03d.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The exact zone map of one index-copy shard, `None` when absent
    * or unreadable (pre-field copies; planning just skips pruning).
    */
  def indexZoneStats(table: String, name: String, shard: Int): Option[ShardStats] = {
    val p = tableDir(table).resolve(f"gsi-zstat-$name-s$shard%03d.json")
    if (!Files.isRegularFile(p)) None
    else try Some(ShardStats.fromJson(new String(Files.readAllBytes(p), UTF_8)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Rebuild every registered index (compaction's index-refresh step;
    * cheap no-op for tables without indexes). Driver-local form — the
    * distributed backfill is [[DynamoMaintenance.buildIndex]].
    */
  def refreshIndexes(table: String): Unit =
    describe(table).indexes.keys.foreach(buildIndex(table, _))

  /** Distributed-backfill phase 1, the task-side unit: stream ONE
    * base shard's merged view, project through the index, write
    * per-index-shard part files under `gsi-tmp-<name>/`. Tasks touch
    * disjoint inputs and distinct part files, so base shards backfill
    * concurrently — the reshard pattern applied to index builds (a
    * single-threaded full-table scan would be the one non-parallel
    * step in a 100 TB index creation).
    */
  def buildIndexShardParts(table: String, name: String, baseShard: Int): Unit = {
    val meta = describe(table)
    val ix = meta.indexes.getOrElse(name,
      throw new IllegalArgumentException(s"no index '$name' on $table"))
    val tmp = tableDir(table).resolve(s"gsi-tmp-$name")
    Files.createDirectories(tmp)
    val writers = mutable.HashMap.empty[Int, java.io.BufferedWriter]
    try scanSegment(table, baseShard, meta.shards).map(_._1)
      .flatMap(indexView(meta, ix, _))
      .foreach { it =>
        val is = indexShardOf(meta, it(ix.hashKey))
        val w = writers.getOrElseUpdate(is, Files.newBufferedWriter(
          tmp.resolve(f"part-$is%03d-from-$baseShard%03d.jsonl"), UTF_8))
        w.write(ItemJson.write(it)); w.write("\n")
      }
    finally writers.values.foreach(_.close())
  }

  /** Distributed-backfill phase 2 (driver-side): concatenate each
    * index shard's parts in base-shard order (deterministic layout),
    * swap the copy in atomically, stamp the marker with the
    * [[indexBuildStamp]] captured BEFORE phase 1 — a write racing the
    * build leaves the marker stale (or in the delta), exactly like
    * the local build. A legacy bare-version stamp still works: exact
    * serve parses, the delta tier just stays unavailable.
    */
  def finishIndexBuild(table: String, name: String, stamp: String): Unit = {
    val meta = describe(table)
    val dir = tableDir(table)
    val tmp = dir.resolve(s"gsi-tmp-$name")
    (0 until meta.shards).foreach { is =>
      val parts =
        if (!Files.isDirectory(tmp)) Seq.empty
        else {
          val st = Files.list(tmp)
          try st.iterator().asScala
            .filter(_.getFileName.toString.startsWith(f"part-$is%03d-from-"))
            .toSeq.sortBy(_.getFileName.toString)
          finally st.close()
        }
      // one index shard's items in memory (same bound as a base-shard
      // compaction), sorted into the GSI Query layout + directory
      val items = Vector.newBuilder[Item]
      val st = ShardStats.Builder()
      parts.foreach { p =>
        val lines = Files.lines(p, UTF_8)
        try lines.iterator().asScala.filter(_.nonEmpty)
          .foreach { l =>
            val it = ItemJson.parse(l)
            items += it
            st.add(it)
          }
        finally lines.close()
      }
      writeIndexShardSorted(table, name, meta.indexes(name), is, items.result())
      writeIndexZoneStats(table, name, is, st.result())
    }
    // same journal-clearing rule as the local build (see buildIndex)
    underTxnLock(table) {
      dropIndexJournal(table, name)
      val mTmp = dir.resolve(s".gsi-$name.meta.tmp")
      val payload =
        if (stamp.contains(' ')) stamp else s"$stamp ${meta.shards}"
      Files.write(mTmp, payload.getBytes(UTF_8))
      Files.move(mTmp, dir.resolve(s"gsi-$name.meta"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    if (Files.isDirectory(tmp)) {
      val st = Files.list(tmp)
      try st.iterator().asScala.toList.foreach(Files.deleteIfExists(_))
      finally st.close()
      Files.deleteIfExists(tmp)
    }
  }

  /** True when the materialized copy reflects the CURRENT merged view
    * under the CURRENT layout — the gate for serving index reads from
    * the copy with no overlay. (The triage form is [[indexFreshness]].)
    */
  def indexFresh(table: String, name: String): Boolean =
    indexFreshness(table, name) == LocalKVStore.IndexExact

  /** Three-tier index freshness triage — the DynamoDB GSI story, where
    * the service keeps an index usable UNDER writes instead of
    * rebuilding it per write:
    *  - [[LocalKVStore.IndexExact]]: marker version equals the current
    *    view — serve the copy as-is (today's fast path).
    *  - [[LocalKVStore.IndexDelta]]: the copy is behind by an
    *    ENUMERABLE set of journal files (published after the build's
    *    `foldedMax`, no pubSeq collision into the folded range, no
    *    compaction since the build) — serve the copy PLUS a delta
    *    overlay ([[scanIndexSegmentDelta]]): recent writes cost
    *    O(delta), not O(table rebuild).
    *  - [[LocalKVStore.IndexStale]]: anything unprovable (legacy
    *    marker, collision, compaction drift, reshard) — base path.
    *
    * Soundness of the delta identification: under an unchanged
    * compaction watermark the journal is append-only, so the build's
    * folded set is exactly the files at or below `foldedMax` PROVIDED
    * their count still equals the recorded `belowCount` — a file
    * published later into that range (same-millisecond pubSeq
    * collision) bumps the count and demotes to Stale rather than
    * silently passing as folded. Overlaying a file the copy already
    * folded would be harmless anyway (the overlay re-derives touched
    * keys from the base, idempotently) — the guards keep the DELTA
    * set complete, which is the direction that matters.
    */
  def indexFreshness(table: String, name: String): LocalKVStore.IndexServe = {
    val p = tableDir(table).resolve(s"gsi-$name.meta")
    if (!Files.isRegularFile(p)) return LocalKVStore.IndexStale
    val parts = new String(Files.readAllBytes(p), UTF_8).trim.split(' ')
    val shardsOk = parts.length >= 2 &&
      parts(1).forall(_.isDigit) && parts(1).toInt == describe(table).shards
    if (!shardsOk) return LocalKVStore.IndexStale
    if (parts(0) == viewVersion(table)) return LocalKVStore.IndexExact
    if (parts.length < 5) return LocalKVStore.IndexStale // legacy marker
    val (foldedMax, belowCount, wm) =
      try (parts(2).toLong, parts(3).toLong, parts(4).toLong)
      catch { case _: NumberFormatException => return LocalKVStore.IndexStale }
    if (compactionWatermark(table) != wm) return LocalKVStore.IndexStale
    val files = listFiles(table, "wal-")
    if (files.count(walPubSeq(_) <= foldedMax) != belowCount)
      return LocalKVStore.IndexStale
    val buildDelta = files.filter(walPubSeq(_) > foldedMax)
      .sortBy(_.getFileName.toString)
    // Write-through tier: a valid applied marker proves the index
    // journal (round files) covers exactly the WAL files at or below
    // `appliedSeq` — serve copy + rounds with only the POST-applied
    // suffix as overlay (usually empty: the applier runs at publish).
    // Every guard failure degrades to the build-based delta, never a
    // wrong serve; the count guards mirror the build marker's
    // (same-millisecond pubSeq collisions demote instead of hiding).
    appliedMarker(table, name) match {
      case Some((aWm, rounds, applied))
          if aWm == wm &&
            rounds.forall(r => Files.isRegularFile(tableDir(table).resolve(r))) =>
        // delta = files the journal has NOT folded — set difference,
        // ANY position in the listing. Soundness does not need the
        // applied set to be a name-order prefix: the overlay DROPS
        // every delta-touched key from copy+journal and re-derives it
        // from the live base, so a late same-pubSeq arrival is simply
        // overlaid (the applier maintains apply-order consistency for
        // the keys it DID fold — see applyOneIndex's rebuild rule).
        val delta = buildDelta
          .filterNot(p => applied.contains(p.getFileName.toString))
        LocalKVStore.IndexJournal(
          rounds,
          delta.map(_.getFileName.toString),
          delta.map(Files.size(_)).sum,
          buildDelta.map(_.getFileName.toString))
      case _ =>
        LocalKVStore.IndexDelta(
          buildDelta.map(_.getFileName.toString),
          buildDelta.map(Files.size(_)).sum)
    }
  }

  // ---- GSI write-through (incremental index maintenance) ----
  //
  // DynamoDB applies base-table writes to each GSI asynchronously from
  // the table's change log; the index stays usable (and converges)
  // under sustained writes with no read-time re-derivation. The
  // store's analogue: after a write publishes, [[applyIndexWrites]]
  // folds the un-applied WAL suffix — IN GLOBAL pubSeq ORDER, under
  // the table's transaction lock, so racing key movers cannot split an
  // item across two index locations — into one ROUND FILE per index
  // (`gsi-wal-<name>-r<seq>.jsonl`): per touched key, a DEL entry at
  // the key's PREVIOUS index shard (pre-image resolved from the
  // applied-prefix merged view) and/or a PUT entry carrying the new
  // projected image at its new shard. A round publishes with one
  // atomic rename and the applied marker (`gsi-applied-<name>.meta`)
  // bumps AFTER it — a crash leaves an orphan round the next applier
  // reaps and no reader ever consults (reads filter rounds to the
  // marker's coverage). Index reads then serve copy + rounds with
  // ZERO base-shard work ([[scanIndexSegment]] journalRounds); only
  // WAL published after the marker (applier raced/skipped) still
  // needs the classic delta overlay.

  /** Applied-marker parse — the journal's COMPOSITION manifest:
    * (watermark, round file names in replay order, applied WAL file
    * name set). Explicit names instead of a (seq, count) coverage pair:
    * a same-millisecond pubSeq collision then lands in the DELTA (set
    * difference) instead of poisoning the whole journal. None =
    * absent/unparseable. Format: line 1 = watermark; `r <name>` =
    * round file; `w <name>` = applied WAL file.
    */
  private def appliedMarker(table: String, name: String): Option[(Long, Seq[String], Set[String])] = {
    val p = tableDir(table).resolve(s"gsi-applied-$name.meta")
    if (!Files.isRegularFile(p)) return None
    val lines = new String(Files.readAllBytes(p), UTF_8).split('\n').filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val wm = try lines.head.trim.toLong
      catch { case _: NumberFormatException => return None }
    val rounds = lines.tail.collect { case l if l.startsWith("r ") => l.drop(2) }
    val applied = lines.tail.collect { case l if l.startsWith("w ") => l.drop(2) }
    if (lines.tail.exists(l => !l.startsWith("r ") && !l.startsWith("w ")))
      return None
    Some((wm, rounds.toSeq, applied.toSet))
  }

  private def writeAppliedMarker(table: String, name: String, wm: Long,
      rounds: Seq[String], applied: Set[String]): Unit = {
    val dir = tableDir(table)
    val sb = new StringBuilder()
    sb.append(wm).append('\n')
    rounds.foreach(r => sb.append("r ").append(r).append('\n'))
    applied.toSeq.sorted.foreach(w => sb.append("w ").append(w).append('\n'))
    val tmp = dir.resolve(s".gsi-applied-$name.meta.tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"gsi-applied-$name.meta"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Round files of one index, defensively tokenized: the remainder
    * after the literal prefix must be exactly the 20-digit seq (an
    * index named `x` must not list rounds of an index named `x-r1`).
    */
  private def listRoundFiles(table: String, name: String): Seq[Path] =
    listFiles(table, s"gsi-wal-$name-r").filter(
      _.getFileName.toString.stripPrefix(s"gsi-wal-$name-r")
        .matches("\\d{20}\\.jsonl"))

  /** One round file's entries: (canonical key, index shard,
    * Some(projected image) = PUT / None = DEL). Rounds are bounded by
    * writes since the last build, so a whole-file read is fine.
    */
  private def readRoundFile(table: String, fileName: String): Iterator[(String, Int, Option[Item])] =
    Files.readAllLines(tableDir(table).resolve(fileName), UTF_8).asScala
      .iterator.filter(_.nonEmpty).map { line =>
        val rec = ItemJson.parse(line)
        (rec("k").asInstanceOf[AttrVal.S].v,
          rec("sh").asInstanceOf[AttrVal.N].v.toInt,
          rec.get("img").map(_.asInstanceOf[AttrVal.M].v))
      }

  /** Post-publish hook: fold the un-applied WAL suffix into each
    * index's journal. Non-blocking (tryLock) — a busy table lock means
    * another applier or a transaction is active; skipping is safe
    * (this publish's files stay in the delta until a later call).
    * Failures leave the marker unmoved: the applier is an
    * optimization, correctness lives in the freshness guards.
    */
  def applyIndexWrites(table: String): Unit = {
    val meta = describe(table)
    if (meta.indexes.isEmpty) return
    try {
      tryUnderTxnLock(table) { applyIndexWritesLocked(table, meta) }
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The applier body — caller MUST hold the table's transaction
    * lock (the global-order guarantee lives there).
    */
  private def applyIndexWritesLocked(table: String, meta: TableMeta): Unit =
    meta.indexes.foreach { case (name, ix) =>
      try applyOneIndex(table, meta, name, ix)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  private def applyOneIndex(table: String, meta: TableMeta,
      name: String, ix: IndexMeta): Unit = {
    val dir = tableDir(table)
    // the journal extends a VALID build marker only (parse mirrors
    // [[indexFreshness]]); anything else belongs to the rebuild path
    val bm = dir.resolve(s"gsi-$name.meta")
    if (!Files.isRegularFile(bm)) return
    val parts = new String(Files.readAllBytes(bm), UTF_8).trim.split(' ')
    if (parts.length < 5) return
    if (!(parts(1).forall(_.isDigit) && parts(1).toInt == meta.shards)) return
    val (foldedMax, belowCount, wm) =
      try (parts(2).toLong, parts(3).toLong, parts(4).toLong)
      catch { case _: NumberFormatException => return }
    if (compactionWatermark(table) != wm) return
    val files = listFiles(table, "wal-")
    if (files.count(walPubSeq(_) <= foldedMax) != belowCount) return
    val folded = files.filter(walPubSeq(_) <= foldedMax)
      .map(_.getFileName.toString).toSet
    val (rounds0, applied0) = appliedMarker(table, name) match {
      case Some((aWm, r, a)) if aWm == wm &&
          r.forall(f => Files.isRegularFile(dir.resolve(f))) => (r, a)
      case Some(_) => (Nil: Seq[String], Set.empty[String]) // stale marker: rebuild composition
      case None => (Nil: Seq[String], Set.empty[String])
    }
    val unapplied = files
      .filter(p => walPubSeq(p) > foldedMax &&
        !applied0.contains(p.getFileName.toString))
      .sortBy(_.getFileName.toString)
    if (unapplied.isEmpty) return
    // APPLY-ORDER invariant: the journal's cumulative composition must
    // equal a NAME-ORDER fold (the order every scan replays). Extending
    // is only sound when all unapplied files sort AFTER everything
    // already applied; a late arrival sorting INTO the applied range
    // (same-millisecond pubSeq collision) forces a REBUILD of the
    // composition — one fresh round folding the whole post-build
    // suffix, published under a new marker. Old round files stay on
    // disk (readers that pinned them keep a consistent view) and are
    // swept with the other gsi-* files at the next rebuild/compaction.
    val rebuild = applied0.nonEmpty &&
      unapplied.head.getFileName.toString < applied0.max
    val (rounds, applied, pending) =
      if (rebuild)
        (Nil: Seq[String], Set.empty[String],
          files.filter(walPubSeq(_) > foldedMax).sortBy(_.getFileName.toString))
      else (rounds0, applied0, unapplied)
    // fold the pending suffix per key — the same KeyState algebra the
    // merged scan replays, so conditional ops resolve identically
    val states = mutable.LinkedHashMap.empty[String, KeyState]
    val keyShardM = mutable.HashMap.empty[String, Int]
    pending.foreach { f =>
      readWalFile(table, f.getFileName.toString).foreach { case (tag, item, _) =>
        val op: Op = opOf(meta, tag, item)
        val k = keyOf(meta, item)
        keyShardM(k) = shardOf(meta, item)
        states(k) = applyOp(states.getOrElse(k, initKeyState), op)
      }
    }
    // pre-images AS OF the journal's current composition: one merged
    // owning-shard scan per dirty base shard, replay pinned to the
    // folded-prefix ∪ applied-set — this is what makes DEL entries
    // land at the key's CURRENT index location (copy + earlier
    // rounds), closing the racing-movers hole a writer-local
    // pre-image read would have
    val appliedWal = folded ++ applied
    val preImage = mutable.HashMap.empty[String, Item]
    states.keySet.groupBy(keyShardM).foreach { case (sh, keys) =>
      scanSegment(table, sh, meta.shards, allowedWal = Some(appliedWal))
        .foreach { case (it, _) =>
          val k = keyOf(meta, it)
          if (keys.contains(k)) preImage(k) = it
        }
    }
    val entries = Vector.newBuilder[(String, Int, Option[Item])]
    val widenImgs = mutable.HashMap.empty[Int, Vector[Item]]
    states.foreach { case (k, st) =>
      val pre = preImage.get(k)
      val fin: Option[Item] = st.present match {
        case Left(r)  => r
        case Right(m) => pre.map(resolvePending(_, m)).orElse(st.absent)
      }
      val oldProj = pre.flatMap(indexView(meta, ix, _))
      val newProj = fin.flatMap(indexView(meta, ix, _))
      val oldSh = oldProj.map(p => indexShardOf(meta, p(ix.hashKey)))
      val newSh = newProj.map(p => indexShardOf(meta, p(ix.hashKey)))
      (oldSh, newSh) match {
        case (Some(o), Some(n)) if o == n =>
          if (oldProj != newProj) entries += ((k, n, newProj))
        case (o, n) =>
          o.foreach(sh => entries += ((k, sh, None)))
          n.foreach(sh => entries += ((k, sh, newProj)))
      }
      (newProj, newSh) match {
        case (Some(pi), Some(sh)) =>
          widenImgs(sh) = widenImgs.getOrElse(sh, Vector.empty) :+ pi
        case _ => ()
      }
    }
    // widen the copy's zone maps BEFORE the round publishes: stats are
    // an over-approximation, so early widening is harmless and late
    // widening (a crash window) would make pruning unsound
    widenImgs.foreach { case (sh, imgs) =>
      val st0 = indexZoneStats(table, name, sh).getOrElse(ShardStats.empty)
      val st = ShardStats.Builder.from(st0)
      imgs.foreach(st.add)
      writeIndexZoneStats(table, name, sh, st.result())
    }
    // publish: round file first (one atomic rename), marker after —
    // the crash in between leaves an orphan round no reader consults
    var newSeq = pending.map(walPubSeq).max
    var roundPath = dir.resolve(f"gsi-wal-$name-r$newSeq%020d.jsonl")
    while (Files.exists(roundPath)) {
      newSeq += 1
      roundPath = dir.resolve(f"gsi-wal-$name-r$newSeq%020d.jsonl")
    }
    val tmp = dir.resolve(f".gsi-wal-$name-r$newSeq%020d.jsonl.tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try entries.result().foreach { case (k, sh, img) =>
      val rec: Item = Map("k" -> AttrVal.S(k),
        "sh" -> AttrVal.N(BigDecimal(sh))) ++
        img.map(i => "img" -> AttrVal.M(i))
      w.write(ItemJson.write(rec)); w.write("\n")
    } finally w.close()
    Files.move(tmp, roundPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // marker AFTER the round: the composition manifest — rounds in
    // replay order plus the exact applied file-name set (a crash in
    // between leaves an orphan round no marker references)
    writeAppliedMarker(table, name, wm,
      rounds :+ roundPath.getFileName.toString,
      applied ++ pending.map(_.getFileName.toString))
  }

  /** Scan one index-copy segment WITH a journal-delta overlay — the
    * read side of [[LocalKVStore.IndexDelta]]:
    *  1. every delta op names a primary key → the TOUCHED set, and a
    *     base shard (item placement) → the DIRTY shard set;
    *  2. copy rows whose primary key is touched are dropped (their
    *     index image may have changed — including to "absent");
    *  3. touched keys' CURRENT images are re-derived by scanning only
    *     the dirty base shards through the normal merged view, then
    *     projected through [[indexView]] and placed by index hash —
    *     only images landing in THIS segment emit.
    * Work per task = full delta read + the dirty base shards — O(recent
    * writes), never O(table); the planner bounds acceptance with
    * `gsiDeltaMaxBytes`. Group-shard-locality is preserved (overlay
    * images place by the same index-hash function as the copy), so
    * keyed/complete grouped-aggregate claims over the index layout
    * stay sound under the overlay. The delta FILE LIST is pinned by
    * the planner, so every task drops the same touched set; touched
    * keys' images read the live merged view (eventual consistency —
    * monotonically fresher, per key, than the pinned list).
    */
  def scanIndexSegmentDelta(table: String, name: String,
      segment: Int, totalSegments: Int,
      deltaFiles: Seq[String],
      /** `consistentScan` composition: bound the touched-key images'
        * base re-derivation to this journal listing too — the whole
        * index read (drop set AND images) then reflects one snapshot.
        * None = live base view for images (eventual consistency,
        * monotonically fresher per key — the default contract).
        */
      imageWal: Option[Set[String]] = None,
      /** Write-through rounds under the copy: the overlay then drops
        * touched keys from the COMPOSED copy+journal view and
        * re-derives them from the live base — the same algebra,
        * wider substrate.
        */
      journalRounds: Seq[String] = Nil): Iterator[(Item, Int)] = {
    val meta = describe(table)
    val ix = meta.indexes.getOrElse(name,
      throw new IllegalArgumentException(s"no index '$name' on $table"))
    // Fold each touched key's delta suffix into the replay normal form
    // ([[KeyState]] — the same algebra the merged scan uses). The fold
    // splits the work:
    //  - base-INDEPENDENT keys (`present = Left`): a PUT/DELETE won,
    //    so the final item is in the ops themselves — emit (or drop)
    //    directly, NO base read at all;
    //  - base-DEPENDENT keys (`Right(m)` — update-merge-only
    //    suffixes): re-derive from the base, but only when this
    //    segment could receive the image (placement provable from the
    //    merge attrs when they carry the index hash key; otherwise
    //    unknown → must check). PUT-heavy deltas (the bulk-upsert
    //    norm) therefore touch ZERO base shards per task, and
    //    update-heavy ones only the shards whose images can land here.
    val states = mutable.LinkedHashMap.empty[String, KeyState]
    val keyShard = mutable.HashMap.empty[String, Int] // base placement
    deltaFiles.sorted.foreach { f =>
      readWalFile(table, f).foreach { case (tag, item, _) =>
        val op: Op = opOf(meta, tag, item)
        val k = keyOf(meta, item)
        keyShard(k) = shardOf(meta, item)
        states(k) = applyOp(states.getOrElse(k, initKeyState), op)
      }
    }
    if (states.isEmpty)
      return scanIndexSegment(table, name, segment, totalSegments,
        journalRounds = journalRounds)
    val touched = states.keySet
    def landsHere(it: Item): Boolean =
      it.get(ix.hashKey).exists(LocalKVStore.keyTyped) &&
        indexShardOf(meta, it(ix.hashKey)) % totalSegments == segment
    // direct emissions: base-independent finals landing in this segment
    val direct = states.valuesIterator
      .flatMap(_.present.swap.toOption.flatten) // Left(Some(item)) finals
      .filter(landsHere)
      .flatMap(indexView(meta, ix, _))
      .map(pi => (pi, ItemJson.write(pi).length))
    // base-dependent keys whose image COULD land here: a pending SET
    // of the index hash key proves placement; a missing/ADD/REMOVE
    // pending leaves the final hash unknown (base-derived, shifted,
    // or gone) — conservatively check via the base
    val needBase = states.iterator.collect {
      case (k, KeyState(Right(m), _)) if (m.get(ix.hashKey) match {
        case Some(PSet(v)) if LocalKVStore.keyTyped(v) =>
          indexShardOf(meta, v) % totalSegments == segment
        // a pending SET to a NON-key-typed value makes the final
        // image index-invisible, but the base's OLD image may still
        // need a removal here → must check (same as unknown)
        case _ => true // unknown placement → must check
      }) => k
    }.toSet
    val dirtyShards = mutable.LinkedHashSet.empty[Int]
    needBase.foreach(k => dirtyShards += keyShard(k))
    val copy = scanIndexSegment(table, name, segment, totalSegments,
      journalRounds = journalRounds)
      .filterNot { case (it, _) => touched.contains(keyOf(meta, it)) }
    def images = dirtyShards.iterator
      .flatMap(sh => scanSegment(table, sh, meta.shards, allowedWal = imageWal))
      .filter { case (it, _) => needBase(keyOf(meta, it)) }
      .flatMap { case (it, _) =>
        indexView(meta, ix, it)
          .filter(pi => landsHere(pi))
          .map(pi => (pi, ItemJson.write(pi).length))
      }
    copy ++ direct ++ images
  }

  /** Scan one segment of a MATERIALIZED index copy (items are already
    * projected; placement is by index hash key). With `journalRounds`
    * (the write-through tier's pinned round-file list) the copy is
    * composed with the index journal: copy rows superseded by an
    * entry at their (key, shard) drop, and the latest PUT images of
    * this segment's shards emit — ZERO base-shard reads. Windows
    * still page-skip the copy; journal entries (bounded by writes
    * since the build) always replay in full, and the caller's filters
    * run on every emitted item either way.
    */
  def scanIndexSegment(table: String, name: String,
      segment: Int, totalSegments: Int,
      /** GSI Query windows (index hash pinned + index sort key
        * bounded): copy pages provably outside every window are
        * skipped — the same derived-data I/O skip as the base path;
        * the caller still evaluates its filters on every emitted
        * item.
        */
      windows: Seq[PageIndex.KeyWindow] = Nil,
      journalRounds: Seq[String] = Nil): Iterator[(Item, Int)] = {
    val copy = listFiles(table, s"gsi-$name-shard-")
      .filter(p => gsiShardIndex(name, p) % totalSegments == segment)
      .iterator
      .flatMap { p =>
        val paged =
          if (windows.isEmpty) None
          else {
            pageDirectory(table, gsiShardIndex(name, p), Some(name)).flatMap { idx =>
              PageIndex.readPages(p, idx.pages.filter(pg =>
                windows.exists(PageIndex.intersects(pg, _))),
                idx.fileBytes, idx.mtimeNanos)
            }
          }
        paged.getOrElse(streamLines(p))
      }
      .filter(_.nonEmpty)
      .map(line => (ItemJson.parse(line), line.length))
    if (journalRounds.isEmpty) copy
    else {
      val meta = describe(table)
      val ix = meta.indexes(name)
      // last round wins per (key, index shard): rounds are named by
      // their zero-padded end seq, so sorted order IS apply order
      val ops = mutable.LinkedHashMap.empty[(String, Int), Option[Item]]
      journalRounds.sorted.foreach { f =>
        readRoundFile(table, f).foreach { case (k, sh, img) =>
          ops((k, sh)) = img
        }
      }
      val touched: collection.Set[(String, Int)] = ops.keySet
      val filtered = copy.filterNot { case (it, _) =>
        touched.contains((keyOf(meta, it),
          indexShardOf(meta, it(ix.hashKey))))
      }
      val additions = ops.iterator.collect {
        case ((_, sh), Some(img)) if sh % totalSegments == segment =>
          (img, ItemJson.write(img).length)
      }
      filtered ++ additions
    }
  }

  /** Stream a shard file's non-empty lines with O(line) per-task
    * memory (the whole-file `readAllLines` form buffers the shard in
    * heap). The reader closes on exhaustion; an early-terminated
    * consumer (limit pushdown) is covered by the task-completion hook
    * when inside a Spark task. Shard publication is an atomic
    * same-directory rename, so the open pins one consistent inode.
    */
  private def streamLines(p: Path): Iterator[String] = {
    val r = Files.newBufferedReader(p, UTF_8)
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => r.close()))
    val it = new Iterator[String] {
      private var line: String = r.readLine()
      override def hasNext: Boolean = line != null
      override def next(): String = {
        val l = line
        line = r.readLine()
        if (line == null) r.close()
        l
      }
    }
    // Abandonment backstop (driver-side early termination): the
    // cleaner action captures ONLY the reader, never the iterator.
    LocalKVStore.readerCleaner.register(it, () => {
      try r.close() catch { case _: java.io.IOException => () }
    })
    it.filter(_.nonEmpty)
  }

  private def gsiShardIndex(name: String, p: Path): Int =
    p.getFileName.toString
      .stripPrefix(s"gsi-$name-shard-").stripSuffix(".jsonl").toInt

  private def deleteIndexFiles(table: String): Unit = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(_.getFileName.toString.startsWith("gsi-"))
      .toList.foreach(Files.deleteIfExists(_))
    finally stream.close()
  }

  def describe(table: String): TableMeta = {
    val m = ItemJson.parse(new String(
      Files.readAllBytes(tableDir(table).resolve("meta.json")), UTF_8))
    val indexes = m.get("indexes") match {
      case Some(AttrVal.M(ix)) => ix.map {
        case (name, AttrVal.M(f)) => name -> IndexMeta(
          hashKey = f("hashKey").asInstanceOf[AttrVal.S].v,
          rangeKey = f("rangeKey") match {
            case AttrVal.S(v) => Some(v)
            case _            => None
          },
          projection = f("projection") match {
            case AttrVal.L(vs) => Some(vs.map(_.asInstanceOf[AttrVal.S].v))
            case _             => None
          },
          // absent in metas written before LSIs existed → global
          local = f.get("local") match {
            case Some(AttrVal.Bool(b)) => b
            case _                     => false
          })
        case (name, other) =>
          throw new IllegalStateException(s"bad index meta $name: $other")
      }
      case _ => Map.empty[String, IndexMeta]
    }
    TableMeta(
      hashKey = m("hashKey").asInstanceOf[AttrVal.S].v,
      rangeKey = m("rangeKey") match {
        case AttrVal.S(v) => Some(v)
        case _            => None
      },
      shards = m("shards").asInstanceOf[AttrVal.N].v.toInt,
      throughput = m("throughput").asInstanceOf[AttrVal.N].v.toLong,
      indexes = indexes,
      // absent in stores written before partition-key placement →
      // legacy full-key layout
      layout = m.get("layout") match {
        case Some(AttrVal.N(v)) => v.toInt
        case _                  => 1
      },
      deletionProtection = m.get("deletionProtection") match {
        case Some(AttrVal.Bool(b)) => b
        case _                     => false
      })
  }

  /** The item as seen through a secondary index: None for items the
    * sparse index doesn't contain (DynamoDB's rule — an item appears
    * only when it has EVERY index key attribute, sort key included);
    * otherwise the projected attribute set. LSI base-path READERS
    * widen the view by clearing the projection before calling
    * (DynamoDB's transparent base-item fetch: a local index read may
    * name — and filter on — non-projected attributes; the co-located
    * base item supplies them, and the decode schema bounds what the
    * scan emits). Index COPY builds always pass the declared meta, so
    * materialized copies store exactly the projection.
    */
  def indexView(meta: TableMeta, index: IndexMeta, item: Item): Option[Item] =
    // Sparse rule, extended to TYPE: an index key slot holding a
    // non-key-typed value (Bool/L/M/Null — DynamoDB keys are S/N/B
    // only) makes the item invisible through the index, same as a
    // missing attribute. The service rejects such an item at WRITE
    // time because its index declares key types; this store's indexes
    // are schemaless, so without this rule one odd item would poison
    // every later index rebuild (encKeyAttr faults inside compaction —
    // found by the round-15 StoreLaws fuzz extension) instead of
    // failing the write that caused it.
    if (!item.get(index.hashKey).exists(LocalKVStore.keyTyped) ||
        index.rangeKey.exists(rk => !item.get(rk).exists(LocalKVStore.keyTyped)))
      None
    else index.projection match {
      case None => Some(item)
      case Some(incl) =>
        val keep = (Set(meta.hashKey) ++ meta.rangeKey ++
          Set(index.hashKey) ++ index.rangeKey ++ incl)
        Some(item.view.filterKeys(keep).toMap)
    }

  /** Total stored bytes — the connector's partition-sizing input
    * (the size term of the scan segment count, SURVEY.md A2).
    */
  def sizeBytes(table: String): Long =
    listFiles(table, "shard-").map(Files.size(_)).sum +
      listFiles(table, "wal-").map(Files.size(_)).sum

  /** Bytes attributable to a shard SUBSET — the scan-statistics input
    * for a key/zone-pruned plan: the kept shards' base files plus
    * their journal files (transaction `-sall` files replay into every
    * segment, so they always count).
    */
  def sizeBytesShards(table: String, keep: Set[Int]): Long =
    listFiles(table, "shard-").filter(p => keep(shardIndex(p)))
      .map(Files.size(_)).sum +
      listFiles(table, "wal-").filter { p =>
        val sh = walShard(p)
        sh == LocalKVStore.TxnShard || keep(sh)
      }.map(Files.size(_)).sum

  /** [[sizeBytesShards]] for a Query read, and the table's total
    * stored bytes ([[sizeBytes]]), from ONE directory pass: the bytes
    * a read of the kept shards under the page `windows` can touch, by
    * the rules [[scanSegmentTail]] reads with. Per kept base file, the
    * pages of its directory that intersect its own windows
    * ([[windowPages]]; the whole file when `windows` is empty or the
    * directory is missing or stale); plus the kept shards' journal
    * files and every transaction (`-sall`) file.
    */
  def sizeBytesWindows(table: String, meta: TableMeta, keep: Set[Int],
      windows: Seq[PageIndex.KeyWindow]): (Long, Long) = {
    var touched = 0L
    var total = 0L
    listFiles(table, "").foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("shard-")) {
        val size = Files.size(p)
        total += size
        if (keep(shardIndex(p)))
          touched += windowPages(table, shardIndex(p), meta, windows)
            .fold(size)(_.pages.map(_.len).sum)
      } else if (name.startsWith("wal-")) {
        val size = Files.size(p)
        total += size
        val sh = walShard(p)
        if (sh == LocalKVStore.TxnShard || keep(sh)) touched += size
      }
    }
    (touched, total)
  }

  /** Base file `p`'s page directory narrowed to the pages the Query
    * `windows` intersect. Under partition-key placement a window's
    * hash names its shard, so a shard owning no window holds no key
    * inside any window: its narrowed directory has no pages and none
    * of its base is read. None = no windows, or no valid directory
    * (missing, stale or unparsable): the whole file is read.
    */
  private def windowPages(table: String, shard: Int, meta: TableMeta,
      windows: Seq[PageIndex.KeyWindow]): Option[PageIndex.ShardIndex] = {
    if (windows.isEmpty) return None
    val own =
      if (meta.layout < 2) windows
      else windows.filter(w =>
        math.floorMod(w.hashEnc.hashCode, meta.shards) == shard)
    if (own.isEmpty) Some(PageIndex.ShardIndex(0L, 0L, Vector.empty))
    else pageDirectory(table, shard, None)
      .map(idx => idx.copy(pages =
        idx.pages.filter(pg => own.exists(PageIndex.intersects(pg, _)))))
  }

  /** The page directory of base shard `shard`, or with `index` of
    * that index copy's shard: per page its byte range, key bounds and
    * statistics. None when the directory is missing, unparsable, or
    * stale against the file it describes. The one place the
    * directory file names are spelled.
    */
  def pageDirectory(table: String, shard: Int,
      index: Option[String]): Option[PageIndex.ShardIndex] = {
    val (idx, file) = pagedFiles(table, shard, index)
    PageIndex.load(idx, file)
  }

  /** (directory, data file) of a base or index-copy shard. */
  private def pagedFiles(table: String, shard: Int,
      index: Option[String]): (Path, Path) = {
    val dir = tableDir(table)
    index match {
      case None => (dir.resolve(f"pageidx-s$shard%03d.jsonl"),
        dir.resolve(f"shard-$shard%03d.jsonl"))
      case Some(n) => (dir.resolve(f"gsi-pageidx-$n-s$shard%03d.jsonl"),
        dir.resolve(f"gsi-$n-shard-$shard%03d.jsonl"))
    }
  }

  // ---- primary key handling ----

  private def encKeyAttr(a: AttrVal): String = LocalKVStore.encKeyAttr(a)

  /** Item IDENTITY: the full primary key (hash, plus range if the
    * table has one) — what dedups puts, resolves updates, and keys
    * the WAL normal form. Distinct from PLACEMENT ([[placementOf]]).
    */
  def keyOf(meta: TableMeta, item: Item): String = {
    val h = encKeyAttr(item.getOrElse(meta.hashKey,
      throw new IllegalArgumentException(s"item missing hash key ${meta.hashKey}")))
    meta.rangeKey match {
      case Some(rk) => h + "|" + encKeyAttr(item(rk))
      case None     => h
    }
  }

  /** Item PLACEMENT: which shard an item lives in. Layout 2 (current)
    * hashes the PARTITION key alone — DynamoDB's model: all sort keys
    * of one partition key co-locate, so a hash-pinned Query touches
    * one shard and co-partition-keyed tables are co-located for
    * storage-partitioned joins. Layout 1 (legacy stores) hashed the
    * full composite key. Hash-only tables are identical under both.
    */
  def placementOf(meta: TableMeta, item: Item): String =
    if (meta.layout >= 2)
      encKeyAttr(item.getOrElse(meta.hashKey,
        throw new IllegalArgumentException(s"item missing hash key ${meta.hashKey}")))
    else keyOf(meta, item)

  /** Stable shard assignment (String.hashCode is spec-fixed in Java,
    * so layout is identical across JVMs/runs).
    */
  def shardOf(meta: TableMeta, item: Item): Int =
    math.floorMod(placementOf(meta, item).hashCode, meta.shards)

  // ---- bulk load (fixture → store) ----

  /** Local fixture loader (driver-side; the distributed ingest path is
    * the connector write + compaction). Spills per-shard to unsorted
    * tmp files, then sorts+writes one shard at a time, so the
    * in-memory bound is one shard — never the whole table. Writes the
    * same sorted bases + page directories compaction does, so
    * Query-shape reads are paged immediately after a bulk load.
    */
  def bulkLoad(table: String, meta: TableMeta, items: Iterator[Item]): Unit = {
    createTable(table, meta)
    deleteIndexFiles(table) // full rewrite: any materialized copy is stale
    listFiles(table, "pageidx-").foreach(Files.deleteIfExists(_))
    val dir = tableDir(table)
    val tmp = dir.resolve(".load-tmp") // dot-prefixed: invisible to listings
    Files.createDirectories(tmp)
    clearSpillDir(table, ".load-tmp") // a crashed prior run's parts would resurrect
    val stats = Array.fill(meta.shards)(ShardStats.Builder())
    val writers = mutable.HashMap.empty[Int, java.io.BufferedWriter]
    try items.foreach { it =>
      val sh = shardOf(meta, it)
      val w = writers.getOrElseUpdate(sh, Files.newBufferedWriter(
        tmp.resolve(f"part-$sh%03d.jsonl"), UTF_8))
      w.write(ItemJson.write(it)); w.write("\n")
      stats(sh).add(it)
    }
    finally writers.values.foreach(_.close())
    (0 until meta.shards).foreach { i =>
      val part = tmp.resolve(f"part-$i%03d.jsonl")
      val shardItems = Vector.newBuilder[Item]
      if (Files.isRegularFile(part)) {
        val lines = Files.lines(part, UTF_8)
        try lines.iterator().asScala.filter(_.nonEmpty)
          .foreach(l => shardItems += ItemJson.parse(l))
        finally lines.close()
        Files.deleteIfExists(part)
      }
      writeSortedShard(table, meta, i, shardItems.result())
    }
    Files.deleteIfExists(tmp)
    stats.zipWithIndex.foreach { case (st, i) =>
      Files.write(dir.resolve(f"zstat-shard-s$i%03d.json"),
        ShardStats.toJson(st.result()).getBytes(UTF_8))
    }
  }

  // ---- write-ahead journal (connector write path) ----

  sealed trait Op { def item: Item }
  final case class Put(item: Item) extends Op
  final case class Update(item: Item) extends Op
  final case class Delete(item: Item) extends Op // item = key attrs only
  /** Conditional put (DynamoDB `attribute_not_exists(pk)` condition):
    * takes effect only if the key has no visible item at its point in
    * replay order.
    */
  final case class PutIfAbsent(item: Item) extends Op
  /** Conditional update (DynamoDB `attribute_exists(pk)` condition):
    * merges non-key attrs only if the key HAS a visible item — never
    * upserts a fresh one.
    */
  final case class UpdateIfExists(item: Item) extends Op
  /** DynamoDB UpdateItem `ADD` action (atomic counter): each attr in
    * `adds` increments the stored number (absent attr = 0; upserts a
    * fresh item like UpdateItem). `item` = key attrs plus the
    * increments rendered as N values — the WAL wire form; `adds` is
    * derived from it with the table's key names at every parse site.
    * Key attrs are never ADD targets (writers validate).
    */
  final case class AddTo(item: Item, adds: Map[String, BigDecimal]) extends Op
  /** DynamoDB UpdateItem `REMOVE` action: attrs of `item` carrying
    * `AttrVal.Null` are removed from the stored item (keys are never
    * Null, so the encoding is unambiguous); upserts a key-only item
    * when absent, like UpdateItem.
    */
  final case class RemoveAttrs(item: Item) extends Op
  /** Conditional REMOVE (DynamoDB `attribute_exists(pk)` condition on
    * an UpdateItem REMOVE): drops the Null-marked attrs only if the
    * key HAS a visible item at its point in replay order — never
    * upserts a key-only phantom. This is the op PartiQL UPDATE must
    * use: its pre-append existence check is advisory, and a DELETE
    * publishing between that check and the append must leave the key
    * ABSENT (an unconditional [[RemoveAttrs]] would resurrect it).
    */
  final case class RemoveAttrsIfExists(item: Item) extends Op
  /** DynamoDB UpdateItem SET/REMOVE on nested document paths
    * (`SET a.b = 5`, `REMOVE l[2]`), conditional on the item existing
    * (never upserts — PartiQL UPDATE is the only emitter and its
    * semantics require a live item). `edits` apply in order; each
    * navigates M fields / L indices from a top-level attr and either
    * SETs the leaf (`value` = Some) or REMOVEs it (None). An edit
    * whose navigation fails on the value actually present at replay
    * is a silent no-op — DynamoDB validates document paths against
    * the CURRENT item the same way, and a racing writer that replaced
    * the structure must not fault the whole replay. SET on a list
    * index past the end appends (the service's documented behavior);
    * REMOVE past the end is a no-op. Wire form: `item` = key attrs +
    * the edits encoded under the reserved `"__edits"` attr (only
    * PATH-tagged records carry it, so no user attr can collide).
    */
  final case class PathEdits(key: Item, edits: Seq[LocalKVStore.PathEdit])
      extends Op {
    def item: Item =
      key + (LocalKVStore.EditsAttr -> LocalKVStore.encodeEdits(edits))
  }

  /** Incremental WAL writer for one (seq, writerId) pair. WAL files are
    * **sharded by the same key-hash as the base shards** — one file per
    * shard the writer touches — so a scan segment replays only its own
    * shards' journal instead of the whole table's (the
    * O(segments × total-WAL) trap).
    *
    * Visibility is atomic per file: rows buffer into a dot-prefixed
    * `.tmp` file that no scan or change-feed listing can see (listings
    * require the `wal-` prefix and `.jsonl` suffix), and [[close]]
    * publishes each file with an atomic rename to
    * `wal-<pubSeq>-<writerId>-sNNN.jsonl`. Readers therefore never
    * observe a torn half-flushed line, and a failed task that calls
    * [[abort]] (or never reaches close) leaves nothing visible.
    *
    * `pubSeq = max(seq, now, maxListed + 1, lastStamped + 1)` (see
    * [[nextPubSeq]]) is stamped immediately before the renames, so
    * lexicographic name order is PUBLISH order: every new file sorts
    * STRICTLY after everything already published to the table — two
    * causally-ordered commits can never tie on pubSeq and replay in
    * writerId order (the lost-update inversion). The caller's `seq`
    * acts as a floor so callers that hand out increasing seqs (e.g.
    * the streaming sink's queryStart+epoch) keep their ordering even
    * on a clock step backwards.
    */
  final class WalWriter private[LocalKVStore] (table: String, meta: TableMeta, seq: Long, writerId: String) {
    private val dir = tableDir(table)
    private val open = mutable.HashMap.empty[Int, java.io.BufferedWriter]
    // Zone map of this writer's op items, per shard file, under the
    // journal rule ([[ShardStats.Builder.addOp]]): the union over all
    // published stats always over-approximates the merged view.
    private val stats = mutable.HashMap.empty[Int, ShardStats.Builder]

    /** Returns the op's serialized line length in UTF-8 BYTES (the
      * unit the journal occupies on disk and WCU accounting bills in)
      * so callers rate-limiting on write bytes reuse THIS
      * serialization instead of re-encoding the item a second time —
      * on a bulk load the encode is the hot path, not the I/O. The
      * byte count is a counting pass over the just-built string (no
      * second encode buffer); for the all-ASCII common case it equals
      * the char count.
      */
    def append(op: Op): Int = {
      val tag = tagOf(op)
      val shard = shardOf(meta, op.item)
      val w = open.getOrElseUpdate(shard,
        Files.newBufferedWriter(
          dir.resolve(f".wal-$seq%020d-$writerId-s$shard%03d.jsonl.tmp"), UTF_8,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND))
      val line = ItemJson.write(Map("op" -> AttrVal.S(tag), "item" -> AttrVal.M(op.item)))
      w.write(line)
      w.write("\n")
      stats.getOrElseUpdate(shard, ShardStats.Builder()).addOp(op)
      LocalKVStore.utf8Length(line)
    }

    def flush(): Unit = open.values.foreach(_.flush())

    /** Publish: close and atomically rename every buffered file. The
      * existence loop bumps the seq past a same-millisecond publish by
      * the same writerId+shard — POSIX rename would otherwise replace
      * the earlier file silently. Each file's zone-map sidecar
      * publishes immediately BEFORE its journal file: a reader that
      * can see the journal can see the stats (pruning stays sound),
      * and a crash between the two renames leaves only an orphan
      * stats file, reaped at compaction.
      */
    def close(): Unit = {
      // One monotone stamp for the whole publish: this writer's shard
      // files may share a pubSeq (same writer — no ordering between
      // them matters), but every one sorts strictly after all files
      // already published to this table (see [[nextPubSeq]]).
      val pub0 = if (open.isEmpty) 0L else nextPubSeq(table, seq)
      open.foreach { case (shard, w) =>
        w.close()
        var pubSeq = pub0
        while (Files.exists(dir.resolve(f"wal-$pubSeq%020d-$writerId-s$shard%03d.jsonl")))
          pubSeq += 1
        val st = stats(shard).result()
        val zTmp = dir.resolve(f".zstat-$seq%020d-$writerId-s$shard%03d.json.tmp")
        Files.write(zTmp, ShardStats.toJson(st).getBytes(UTF_8))
        Files.move(zTmp,
          dir.resolve(f"zstat-$pubSeq%020d-$writerId-s$shard%03d.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Files.move(
          dir.resolve(f".wal-$seq%020d-$writerId-s$shard%03d.jsonl.tmp"),
          dir.resolve(f"wal-$pubSeq%020d-$writerId-s$shard%03d.jsonl"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      // GSI write-through: fold the just-published (and any other
      // pending) WAL into each index journal — DynamoDB's async index
      // apply, run at publish so a following read serves copy+journal
      // exactly. Best-effort: a busy lock or failure leaves the files
      // in the delta tier (still correct).
      if (open.nonEmpty) applyIndexWrites(table)
    }

    /** Discard: close and delete the unpublished buffers. Best-effort
      * per shard — a close() that throws (e.g. the same disk-full that
      * broke the append) must not stop the remaining buffers from
      * being deleted, or they'd hold the change-feed fence down until
      * reaped.
      */
    def abort(): Unit = open.foreach { case (shard, w) =>
      try w.close() catch { case _: java.io.IOException => () }
      Files.deleteIfExists(dir.resolve(f".wal-$seq%020d-$writerId-s$shard%03d.jsonl.tmp"))
      Files.deleteIfExists(dir.resolve(f".zstat-$seq%020d-$writerId-s$shard%03d.json.tmp"))
    }
  }

  /** CONTRACT: `(seq, writerId)` must be unique among CONCURRENT
    * writers of a table — concurrent callers sharing both would share
    * buffer paths (interleaved lines) and can race the publish rename.
    * The DSv2 write path guarantees this by folding the Spark task id
    * into the writerId; direct callers must do the equivalent.
    */
  def walWriter(table: String, seq: Long, writerId: String): WalWriter =
    new WalWriter(table, describe(table), seq, writerId)

  /** One-shot WAL append (convenience over [[WalWriter]]; the
    * [[walWriter]] uniqueness contract applies). All-or-nothing per
    * file: a failure mid-sequence discards the buffers instead of
    * publishing the partial prefix.
    */
  def appendWal(table: String, seq: Long, writerId: String, ops: Seq[Op]): Unit = {
    val w = walWriter(table, seq, writerId)
    try { ops.foreach(w.append); w.close() }
    catch { case e: Throwable => w.abort(); throw e }
  }

  /** Atomic multi-item, multi-shard write — the TransactWriteItems
    * analogue: every op stages into ONE dot-prefixed buffer and the
    * whole transaction publishes with ONE rename, so scans and the
    * change feed observe all of it or none of it (per-shard WAL files
    * publish shard-by-shard and can expose a partial write between
    * renames — fine for bulk loads, wrong for transactions). The file
    * carries the `-sall` shard suffix: EVERY segment replays it and
    * each op lands by its own placement, trading per-shard journal
    * locality for atomicity — the right trade for transactions, which
    * DynamoDB bounds at 100 items. Keys validate before staging, so a
    * malformed op aborts the transaction with nothing visible.
    */
  def transactWrite(table: String, seq: Long, writerId: String, ops: Seq[Op],
      checks: Seq[TxnCheck] = Nil): Unit = {
    val staged = transactStage(table, seq, writerId, ops)
    try {
      // EVERY transactional publish runs under the table lock — not
      // just checked ones. A checkless transaction is a transaction
      // too: letting it publish between another transaction's
      // check-evaluation and its rename would yield states no serial
      // order of the two transactions produces.
      underTxnLock(table) {
        // ConditionCheck entries (TransactWriteItems' check-without-
        // write): evaluated against the CURRENT merged view, any
        // failure aborts the whole transaction with nothing visible.
        // The table-level transaction lock serializes check-evaluate-
        // publish against OTHER transactions (cross-JVM file lock +
        // in-process monitor); plain per-shard WAL writers are not
        // serialized — they stay the store's non-atomic model (A14) —
        // so conditions are serializable against the transactional
        // world, the same scope DynamoDB's transaction conflicts
        // arbitrate.
        val meta = describe(table)
        checks.foreach { c =>
          val cur = currentItem(table, meta, c.key)
          val ok = c match {
            case TxnCheck.Exists(_) => cur.isDefined
            case TxnCheck.Absent(_) => cur.isEmpty
            case TxnCheck.ValueEq(_, attr, expected) =>
              cur.exists(_.get(attr).contains(expected))
            case TxnCheck.Cond(_, p) =>
              require(FilterEval.supported(p),
                s"unsupported condition predicate: $p")
              cur.exists(FilterEval.eval(p, _))
          }
          if (!ok) throw new TxnCheckFailedException(
            s"transaction condition failed on ${keyOf(meta, c.key)}: $c " +
              s"(current: ${cur.fold("absent")(ItemJson.write)})")
        }
        transactPublish(staged)
        // write-through while still holding the lock (re-entering via
        // tryLock would self-deadlock on the file lock)
        try applyIndexWritesLocked(table, meta)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case e: Throwable => transactDiscard(staged); throw e }
  }

  /** Cross-TABLE atomic write — the full TransactWriteItems analogue
    * (DynamoDB transactions span tables in one region; here, tables
    * under one store root). Per-table transactions get per-table
    * atomicity from their single `-sall` rename; two renames in two
    * directories cannot be atomic together, so this path publishes
    * each table's ops as a PENDING file (`.x<txnId>` in the writer
    * slot — invisible to every journal listing) and then commits the
    * whole transaction with ONE atomic rename of the shared marker
    * `<root>/.txn-commit-<txnId>`, which [[listFiles]] consults. All
    * participating tables' locks are held (in table-name order —
    * deadlock-free) across check-evaluate-publish-mark, so condition
    * checks stay serializable against the transactional world in
    * every table at once.
    *
    * Crash safety: death BEFORE the marker leaves only invisible
    * pending files (the compaction reaper deletes unmarked orphans
    * after they age out); death AFTER the marker is a committed
    * transaction — both tables serve it. There is no in-between.
    *
    * Snapshot cuts (`asOfSeq`) key on per-table pubSeq; a cut landing
    * between a transaction's per-table pubSeqs resolves to NONE — the
    * replay skips the early tables' files so restore/export/
    * time-travel never reproduce the half-transaction tear DynamoDB
    * documents for PITR ([[asOfExcludedTxnIds]]; the marker body
    * carries each participant's published file name to make the
    * decision marker-local, and the read fails loudly when the early
    * side was already folded into a base). Use [[transactGetMulti]]
    * for a live cross-table-consistent read.
    */
  def transactWriteMulti(txns: Seq[TableTxn], seq: Long,
      writerId: String): Unit = {
    require(txns.nonEmpty, "empty transaction")
    require(txns.map(_.table).distinct.size == txns.size,
      "one TableTxn per table (merge a table's ops into one entry)")
    require(!writerId.contains(".x"),
      "writerId must not contain the reserved '.x' marker")
    val ordered = txns.sortBy(_.table)
    val txnId = java.util.UUID.randomUUID().toString
      .replace("-", "").take(16)
    // Nested per-table locks in sorted-table order: any two
    // transactions acquire in the same global order, so no deadlock.
    def withLocks[A](ts: List[String])(body: => A): A = ts match {
      case Nil => body
      case t :: rest => underTxnLock(t)(withLocks(rest)(body))
    }
    withLocks(ordered.map(_.table).toList) {
      // All checks across all tables first: any failure aborts with
      // nothing staged anywhere.
      ordered.foreach { tx =>
        val meta = describe(tx.table)
        tx.checks.foreach { c =>
          val cur = currentItem(tx.table, meta, c.key)
          val ok = c match {
            case TxnCheck.Exists(_) => cur.isDefined
            case TxnCheck.Absent(_) => cur.isEmpty
            case TxnCheck.ValueEq(_, attr, expected) =>
              cur.exists(_.get(attr).contains(expected))
            case TxnCheck.Cond(_, p) =>
              require(FilterEval.supported(p),
                s"unsupported condition predicate: $p")
              cur.exists(FilterEval.eval(p, _))
          }
          if (!ok) throw new TxnCheckFailedException(
            s"cross-table condition failed on ${tx.table}/" +
              s"${keyOf(meta, c.key)}: $c " +
              s"(current: ${cur.fold("absent")(ItemJson.write)})")
        }
      }
      // Ops are pure data (no store-instance state), so re-binding
      // another instance's Op values to this one is safe. A table
      // whose share is CHECK-ONLY (a ConditionCheck participant, e.g.
      // PartiQL's [NOT] EXISTS) stages nothing: its checks were just
      // evaluated under the held locks, it contributes no state, and
      // an empty published WAL would only add a torn-read surface for
      // asOfSeq to reason about. A transaction where EVERY table is
      // check-only commits vacuously — all checks passed, no marker
      // needed (nothing exists for a crash to tear).
      val staged = ordered.filter(_.ops.nonEmpty).map(tx =>
        transactStage0(tx.table, seq,
          s"$writerId.x$txnId", tx.ops.asInstanceOf[Seq[Op]]))
      if (staged.nonEmpty) {
        val published = mutable.ArrayBuffer.empty[(String, String)]
        try {
          staged.foreach(st => published += ((st.table, transactPublish(st))))
          // COMMIT POINT — one atomic rename; everything before it is
          // invisible, everything after it is fully visible. The body
          // records `<table>\t<walFileName>` per participant (v2, round
          // 12): the file name carries the per-table publish seq, which
          // is what lets an `asOfSeq` reader decide from the marker
          // ALONE whether a cut includes this transaction in EVERY
          // table or none ([[asOfExcludedTxnIds]]).
          val marker = txnMarkerPath(txnId)
          val mTmp = Paths.get(rootDir, s".txn-commit-$txnId.tmp")
          Files.write(mTmp,
            published.map { case (t, n) => s"$t\t$n" }.mkString("\n")
              .getBytes(UTF_8))
          Files.move(mTmp, marker,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          LocalKVStore.committedTxnCache.add(rootDir + "|" + txnId)
        } catch { case e: Throwable =>
          // Uncommitted: delete whatever published (still invisible) and
          // discard the rest — best-effort, the reaper covers leftovers.
          published.foreach { case (t, n) =>
            val d = tableDir(t)
            try {
              Files.deleteIfExists(d.resolve(n))
              Files.deleteIfExists(d.resolve(
                "zstat-" + n.stripPrefix("wal-").stripSuffix(".jsonl") + ".json"))
            } catch { case _: java.io.IOException => () }
          }
          staged.foreach(transactDiscard)
          throw e
        }
      }
      // Index write-through after the commit point, per table, while
      // still under the locks (same rationale as transactWrite).
      ordered.foreach { tx =>
        try applyIndexWritesLocked(tx.table, describe(tx.table))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Cross-table snapshot read: [[transactGet]] generalized so the
    * all-or-nothing guarantee covers transactions SPANNING the
    * queried tables. One captured commit-marker set decides
    * cross-table-transaction membership for every table's listing
    * (a marker landing mid-read is excluded from ALL tables — never
    * table A with, table B without), and each table additionally pins
    * one journal listing under the usual compaction fence. Results
    * positionally match `reads`.
    */
  def transactGetMulti(
      reads: Seq[(String, Seq[Item])]): Seq[Seq[Option[Item]]] = {
    var attempt = 0
    while (true) {
      attempt += 1
      // Base fingerprints close the fold window the watermark cannot
      // see (new base published BEFORE the watermark bump — see
      // [[transactGet]]): a mid-pass-committed transaction folded
      // into ONE table's base would otherwise leak around the pinned
      // marker set with no watermark movement. CAPTURE ORDER IS THE
      // PROOF: fingerprints FIRST, then the marker set — any fold
      // that could carry a post-capture-committed transaction into a
      // base this pass reads necessarily lands AFTER the marker
      // capture, hence after the fingerprint capture, hence inside
      // the fingerprint window where the recheck sees it. Captured
      // the other way round, a fold in between would present a
      // post-snapshot base under an unchanged fingerprint.
      val wmBefore = reads.map { case (t, _) => compactionWatermark(t) }
      val ownShards = reads.map { case (t, ks) =>
        val m = describe(t); ks.map(shardOf(m, _)).distinct
      }
      val fpBefore = reads.zip(ownShards).map { case ((t, _), shs) =>
        shardStateFingerprint(t, shs) }
      val committed = listCommittedTxnIds()
      // A listed journal file can vanish under the read when a fold
      // races the pass (listed, then folded+deleted before the open)
      // — that IS a moved watermark; retry like a post-scan mismatch.
      val out = try {
        Some(reads.map { case (table, keys) =>
          val meta = describe(table)
          val canon = keys.map(keyOf(meta, _))
          val wanted = canon.toSet
          val snapshot = Some(listWalRawNames(table).filter(n =>
            LocalKVStore.crossTxnIdOf(n).forall(committed)).toSet)
          val found = mutable.HashMap.empty[String, Item]
          val windows = pointWindows(meta, keys)
          keys.map(shardOf(meta, _)).distinct.foreach { sh =>
            scanSegment(table, sh, meta.shards, allowedWal = snapshot,
                windows = windows)
              .map(_._1)
              .foreach { it =>
                val k = keyOf(meta, it)
                if (wanted(k)) found(k) = it
              }
          }
          canon.map(found.get)
        })
      } catch { case _: java.nio.file.NoSuchFileException => None }
      out match {
        case Some(r)
            if reads.map { case (t, _) => compactionWatermark(t) } == wmBefore &&
              reads.zip(ownShards).map { case ((t, _), shs) =>
                shardStateFingerprint(t, shs) } == fpBefore =>
          return r
        case _ => ()
      }
      if (attempt >= 8) throw new IllegalStateException(
        s"transactGetMulti raced a moving compaction watermark " +
          s"$attempt times — snapshot read cannot be pinned")
    }
    throw new IllegalStateException("unreachable")
  }

  /** All committed cross-table transaction ids at this root (one raw
    * root listing — the pinned set [[transactGetMulti]] reads
    * against).
    */
  private def listCommittedTxnIds(): Set[String] = {
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) return Set.empty
    val stream = Files.list(root)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(".txn-commit-") && !n.endsWith(".tmp"))
      .map(_.stripPrefix(".txn-commit-"))
      .toSet
    finally stream.close()
  }

  /** The key's current merged item — one owning-shard segment read
    * windowed to the key's page ([[pointWindows]]): the base page that
    * can hold the key plus the owning shard's journal replay, so the
    * cost is item-proportional like a GetItem, not shard-proportional.
    */
  private def currentItem(table: String, meta: TableMeta, key: Item): Option[Item] = {
    val canon = keyOf(meta, key) // validates the full primary key too
    val shard = shardOf(meta, key)
    // Drain the segment fully instead of `.find`: an early exit would
    // abandon the underlying shard reader with its fd open until GC,
    // and transactWrite condition checks run this once per call in a
    // long-lived driver. The window keeps the drain to one page.
    var found: Option[Item] = None
    scanSegment(table, shard, meta.shards, windows = pointWindows(meta, Seq(key)))
      .foreach { case (it, _) =>
        if (found.isEmpty && keyOf(meta, it) == canon) found = Some(it)
      }
    found
  }

  /** Each key's exact page window ([[PageIndex.pointWindow]]), or Nil
    * under legacy layout 1, whose bases carry no page directory. Only
    * base pages outside every window are skipped: the journal replay
    * and the caller's key match are unchanged, and a missing or stale
    * directory falls back to reading the whole shard.
    */
  private def pointWindows(meta: TableMeta, keys: Seq[Item]): Seq[PageIndex.KeyWindow] =
    if (meta.layout < 2) Nil
    else keys.map(k => PageIndex.pointWindow(placementOf(meta, k),
      meta.rangeKey.map(k(_)))).distinct

  /** Snapshot-consistent multi-key read — the `TransactGetItems`
    * analogue: every key resolves against ONE journal-file listing,
    * so an atomic transaction published concurrently is either
    * visible in ALL returned items or in none (its ops live in a
    * single `-sall` file, whose membership in the one listing is
    * atomic by construction) — where N independent [[currentItem]]
    * calls could observe a transaction half-applied across keys.
    * Plain per-shard writers keep the store's non-atomic model (A14);
    * this pins exactly the guarantee DynamoDB's TransactGetItems
    * adds over N GetItems. Cost: one owning-shard segment read per
    * DISTINCT shard touched, windowed to the keys' pages
    * ([[pointWindows]]) — item-proportional like GetItem; results
    * positionally match `keys`, `None` = absent at the snapshot.
    */
  def transactGet(table: String, keys: Seq[Item]): Seq[Option[Item]] = {
    val meta = describe(table)
    val canon = keys.map(keyOf(meta, _))
    val wanted = canon.toSet
    // A concurrent COMPACTION can break the one-listing promise from
    // under the listing: a WAL file published after the snapshot can
    // be folded into a base shard mid-read, so shards scanned later
    // would serve post-snapshot state through their base slice — the
    // half-applied visibility this method exists to exclude. Fence:
    // capture the compaction watermark WITH the listing and retry the
    // whole read if it moved by the end (compaction is rare and
    // bounded; 5 collisions in a row means an operator is running
    // compaction in a tight loop — fail loudly rather than spin).
    var attempt = 0
    while (true) {
      attempt += 1
      val wmBefore = compactionWatermark(table)
      // The watermark alone cannot fence a racing fold: compaction
      // publishes the NEW base (which already contains any mid-pass
      // transaction it folded) BEFORE it bumps the watermark, so a
      // read running entirely inside that gap would see post-snapshot
      // state with no watermark movement to detect. Any fold rewrites
      // base files — the fingerprint (restricted to the shards this
      // read touches) closes the gap structurally, and it is captured
      // BEFORE the snapshot listing: a fold able to leak a
      // post-listing write through the base necessarily lands inside
      // the fingerprint window.
      val ownShards = keys.map(shardOf(meta, _)).distinct
      val fpBefore = shardStateFingerprint(table, ownShards)
      val snapshot = Some(listFiles(table, "wal-")
        .map(_.getFileName.toString).toSet)
      val found = mutable.HashMap.empty[String, Item]
      // a listed file vanishing under the read IS a racing fold —
      // retry exactly like a post-scan watermark mismatch
      val windows = pointWindows(meta, keys)
      val torn = try {
        ownShards.foreach { sh =>
          scanSegment(table, sh, meta.shards, allowedWal = snapshot,
              windows = windows)
            .map(_._1)
            .foreach { it =>
              val k = keyOf(meta, it)
              if (wanted(k)) found(k) = it
            }
        }
        false
      } catch { case _: java.nio.file.NoSuchFileException => true }
      if (!torn && compactionWatermark(table) == wmBefore &&
          shardStateFingerprint(table, ownShards) == fpBefore)
        return canon.map(found.get)
      if (attempt >= 8) throw new IllegalStateException(
        s"transactGet on '$table' raced a moving compaction watermark " +
          s"$attempt times — snapshot read cannot be pinned")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Cross-JVM + in-process serialization of transactional
    * check-evaluate-publish sections for one table. `private[dynamo]`:
    * [[Replication]] serializes its stamped writes and LWW applies on
    * the same lock, so a sync apply and a racing stamped write can
    * never interleave between check and publish.
    */
  private[dynamo] def underTxnLock[A](table: String)(body: => A): A = {
    val lockPath = tableDir(table).resolve(".txn.lock")
    val mon = LocalKVStore.jvmLock(lockPath.toString)
    mon.lock()
    try {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    } finally mon.unlock()
  }

  /** Non-blocking [[underTxnLock]]: runs `body` only if BOTH the
    * in-process monitor and the cross-JVM file lock are free right
    * now; returns whether it ran. The index applier uses this so a
    * write publish never stalls behind another table-lock holder —
    * skipping is safe (reads fall back to the delta overlay until a
    * later publish catches up).
    */
  private def tryUnderTxnLock(table: String)(body: => Unit): Boolean = {
    val lockPath = tableDir(table).resolve(".txn.lock")
    val mon = LocalKVStore.jvmLock(lockPath.toString)
    if (!mon.tryLock()) return false
    try {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.tryLock()
        if (l == null) false
        else { try body finally l.release(); true }
      } finally ch.close()
    } finally mon.unlock()
  }

  /** Stage a transaction WITHOUT publishing: ops and their stats land
    * in dot-prefixed buffers invisible to scans/CDC, and the returned
    * handle publishes ([[transactPublish]]) or discards
    * ([[transactDiscard]]) them later — the split that lets a
    * DRIVER-side commit fence make a whole multi-task job atomic
    * (every task stages; the driver publishes all handles only after
    * every task committed). Keys validate here, so a malformed op
    * aborts with nothing staged.
    */
  def transactStage(table: String, seq: Long, writerId: String,
      ops: Seq[Op]): StagedTxn = {
    // The '.x<16-hex>' suffix is the cross-table pending marker shape:
    // a caller-supplied writerId that parses as one would make this
    // single-table transaction's published file invisible to every
    // listing (no commit marker will ever exist for the forged id)
    // and eligible for orphan reaping — silent data loss. Only
    // [[transactWriteMulti]] may mint that shape (it routes through
    // the private staging entry below).
    require(LocalKVStore.crossTxnIdOf(
        f"wal-$seq%020d-$writerId-sall.jsonl").isEmpty,
      s"writerId '$writerId' ends with the reserved '.x<txnId>' " +
        "marker shape (use transactWriteMulti for cross-table writes)")
    transactStage0(table, seq, writerId, ops)
  }

  private[dynamo] def transactStage0(table: String, seq: Long,
      writerId: String, ops: Seq[Op]): StagedTxn = {
    require(ops.nonEmpty, "empty transaction")
    val meta = describe(table)
    ops.foreach(op => keyOf(meta, op.item)) // validate before staging
    val dir = tableDir(table)
    val tmp = dir.resolve(f".wal-$seq%020d-$writerId-sall.jsonl.tmp")
    val zTmp = dir.resolve(f".zstat-$seq%020d-$writerId-sall.json.tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    val stats = ShardStats.Builder()
    try {
      try ops.foreach { op =>
        w.write(ItemJson.write(Map(
          "op" -> AttrVal.S(tagOf(op)), "item" -> AttrVal.M(op.item))))
        w.write("\n")
        stats.addOp(op)
      } finally w.close()
      Files.write(zTmp, ShardStats.toJson(stats.result()).getBytes(UTF_8))
      StagedTxn(table, seq, writerId)
    } catch { case e: Throwable =>
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(zTmp)
      throw e
    }
  }

  /** Publish a set of staged transactions under each table's
    * transaction lock (writer-id order within a table, table order
    * across) — the driver-side commit fence's entry point, serialized
    * against concurrent `transactWrite`s so condition checks stay
    * transaction-serializable.
    */
  def transactPublishAll(staged: Seq[StagedTxn]): Unit =
    staged.groupBy(_.table).toSeq.sortBy(_._1).foreach { case (t, sts) =>
      underTxnLock(t) {
        sts.sortBy(_.writerId).foreach(transactPublish)
        try applyIndexWritesLocked(t, describe(t))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** Publish ONE staged transaction: stats rename first (a visible
    * journal file implies visible stats), then the ONE rename that
    * commits the whole op set. Lock-free internal step — external
    * callers go through [[transactWrite]] or [[transactPublishAll]],
    * which hold the table's transaction lock (nesting the lock would
    * throw: `FileChannel.lock` is not reentrant).
    */
  private[dynamo] def transactPublish(staged: StagedTxn): String = {
    val seq = staged.seq; val writerId = staged.writerId
    val dir = tableDir(staged.table)
    val tmp = dir.resolve(f".wal-$seq%020d-$writerId-sall.jsonl.tmp")
    val zTmp = dir.resolve(f".zstat-$seq%020d-$writerId-sall.json.tmp")
    var pubSeq = nextPubSeq(staged.table, seq)
    while (Files.exists(dir.resolve(f"wal-$pubSeq%020d-$writerId-sall.jsonl")))
      pubSeq += 1
    Files.move(zTmp, dir.resolve(f"zstat-$pubSeq%020d-$writerId-sall.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val name = f"wal-$pubSeq%020d-$writerId-sall.jsonl"
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    name
  }

  /** Drop a staged transaction's buffers; nothing was ever visible. */
  def transactDiscard(staged: StagedTxn): Unit = {
    val seq = staged.seq; val writerId = staged.writerId
    val dir = tableDir(staged.table)
    Files.deleteIfExists(dir.resolve(f".wal-$seq%020d-$writerId-sall.jsonl.tmp"))
    Files.deleteIfExists(dir.resolve(f".zstat-$seq%020d-$writerId-sall.json.tmp"))
  }

  private def tagOf(op: Op): String = op match {
    case _: Put => "PUT"
    case _: Update => "UPDATE"
    case _: Delete => "DELETE"
    case _: PutIfAbsent => "PUTNX"
    case _: UpdateIfExists => "UPDIF"
    case _: AddTo => "ADD"
    case _: RemoveAttrs => "REMOVE"
    case _: RemoveAttrsIfExists => "REMIF"
    case _: PathEdits => "PATH"
  }

  /** WAL record → Op. ADD targets are the non-key N-valued attrs
    * (key names from `meta`); REMOVE targets ride as Null values in
    * the item itself.
    */
  private def opOf(meta: TableMeta, tag: String, item: Item): Op = tag match {
    case "PUT" => Put(item)
    case "UPDATE" => Update(item)
    case "DELETE" => Delete(item)
    case "PUTNX" => PutIfAbsent(item)
    case "UPDIF" => UpdateIfExists(item)
    case "ADD" =>
      val keys: Set[String] = Set(meta.hashKey) ++ meta.rangeKey
      AddTo(item, item.collect {
        case (k, AttrVal.N(v)) if !keys(k) => k -> v })
    case "REMOVE" => RemoveAttrs(item)
    case "REMIF" => RemoveAttrsIfExists(item)
    case "PATH" => PathEdits(item - LocalKVStore.EditsAttr,
      LocalKVStore.decodeEdits(item(LocalKVStore.EditsAttr)))
  }

  /** Shard a journal file belongs to; [[LocalKVStore.TxnShard]] (-1)
    * for transaction files (`-sall` suffix), which belong to EVERY
    * segment — their ops carry their own placement and the replay's
    * `inSegment` filter drops foreign items.
    */
  private def walShard(p: Path): Int = {
    val n = p.getFileName.toString.stripSuffix(".jsonl")
    val suffix = n.substring(n.lastIndexOf("-s") + 2)
    if (suffix == "all") LocalKVStore.TxnShard else suffix.toInt
  }

  /** Publish sequence embedded in a WAL file name
    * (`wal-<pubSeq>-<writer>-s<shard>.jsonl`) — the same number the
    * change feed uses as its offset space.
    */
  private def walPubSeq(p: Path): Long =
    p.getFileName.toString.stripPrefix("wal-").takeWhile(_ != '-').toLong

  /** Strictly-monotone publish stamp for `table`:
    * `max(seq, now, maxListedWal + 1, lastStampedHere + 1)`.
    *
    * The `maxListed + 1` term is the cross-writer fence: replay sorts
    * journal files by NAME, breaking equal-pubSeq ties by writerId —
    * so two causally-ordered commits landing in the same millisecond
    * (second one read the first's effects under the txn lock) could
    * otherwise replay in INVERTED order and lose the earlier write.
    * Transactional publishers call this while holding the table's
    * txn lock, so the listing is guaranteed to include every earlier
    * committed file; bulk writers (no lock) still get within-JVM
    * strictness from the shared [[LocalKVStore.pubClock]] and a
    * best-effort cross-JVM fence from the listing — benign, because
    * two writers neither of which observed the other have no required
    * order. Pending cross-table files count too (they occupy the same
    * name space and replay in name order once their marker commits).
    * `seq` stays a floor so callers that hand out increasing seqs
    * (the streaming sink's queryStart+epoch) keep their ordering even
    * on a clock step backwards.
    */
  private[dynamo] def nextPubSeq(table: String, seq: Long): Long = {
    val dir = tableDir(table)
    var listedMax = 0L
    if (Files.isDirectory(dir)) {
      val stream = Files.list(dir)
      try stream.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("wal-") && n.endsWith(".jsonl")) {
          val s = walPubSeqName(n)
          if (s > listedMax) listedMax = s
        }
      } finally stream.close()
    }
    LocalKVStore.pubClock(dir.toString).updateAndGet { prev =>
      math.max(math.max(seq, System.currentTimeMillis()),
        math.max(listedMax, prev) + 1)
    }
  }

  /** WAL ops for the given segment only (per-shard WAL files make this
    * proportional to the segment's own journal, not the table's).
    * `asOfSeq` bounds the replay fold: only journal files published at
    * or before that sequence participate — the snapshot-read half of
    * the PITR story (see [[scanSegment]]).
    */
  /** `skipFoldedTxnOp(pubSeq, item)` drops a TRANSACTION-file op
    * already FOLDED into the item's shard base (see the
    * folded-but-unreclaimed note in [[scanSegment]]). Evaluated only
    * for `-sall` files — the per-shard journal hot path (bulk loads,
    * counters) keeps its allocation profile: one op per line.
    */
  private def walOps(table: String, segment: Int, totalSegments: Int,
      asOfSeq: Option[Long] = None,
      allowedWal: Option[Set[String]] = None,
      skipFoldedTxnOp: (Long, Item) => Boolean = (_, _) => false): Iterator[Op] = {
    val metaOnce = describe(table) // once per replay, not per line
    // cross-table-consistent cut: a committed transaction straddling
    // the cut (some table's publish ≤ cut, another's >) is resolved
    // to NONE — its files skip here, and the sibling's are already
    // above the cut ([[asOfExcludedTxnIds]] throws when the skip is
    // impossible because the ops were folded into the base)
    val excludedTxn = asOfSeq
      .map(asOfExcludedTxnIds(table, _)).getOrElse(Set.empty)
    listFiles(table, "wal-").filter { p =>
      val sh = walShard(p)
      sh == LocalKVStore.TxnShard || sh % totalSegments == segment
    }
      .filter(p => asOfSeq.forall(walPubSeq(p) <= _))
      .filter(p => excludedTxn.isEmpty || !LocalKVStore
        .crossTxnIdOf(p.getFileName.toString).exists(excludedTxn))
      .filter(p => allowedWal.forall(_.contains(p.getFileName.toString)))
      .sortBy(_.getFileName.toString).iterator
      .flatMap { p =>
        def parse(line: String): Op = {
          val rec = ItemJson.parse(line)
          val item = rec("item").asInstanceOf[AttrVal.M].v
          opOf(metaOnce, rec("op").asInstanceOf[AttrVal.S].v, item)
        }
        val lines = Files.readAllLines(p, UTF_8).asScala.iterator
          .filter(_.nonEmpty)
        if (walShard(p) != LocalKVStore.TxnShard) lines.map(parse)
        else {
          val pub = walPubSeq(p)
          lines.map(parse).filterNot(op => skipFoldedTxnOp(pub, op.item))
        }
      }
  }

  /** This shard's fold frontier: the max pubSeq compactShard has
    * folded into its base (0 = never compacted).
    */
  private def shardCompactWm(table: String, shard: Int): Long = {
    val p = tableDir(table).resolve(f"compact-wm-s$shard%03d")
    if (!Files.isRegularFile(p)) 0L
    else try new String(Files.readAllBytes(p), UTF_8).trim.toLong
    catch { case _: NumberFormatException => 0L }
  }

  /** Txn ids an `asOfSeq` replay of `table` must SKIP so the cut is
    * cross-table consistent (round 12): a committed cross-table
    * transaction whose per-table publish seqs STRADDLE the cut would
    * otherwise appear in the tables where it published early and be
    * absent where it published late — the half-transaction tear
    * DynamoDB documents for PITR, which restore/export/time-travel
    * here refuse to reproduce. Straddlers resolve to NONE: this
    * table's files skip, the sibling's are already above the cut.
    *
    * Throws (never guesses) when all-or-nothing is unachievable:
    *  - the straddler's ops were already FOLDED into this table's
    *    base (its journal file is gone; a base cannot un-fold), or
    *  - a v1 name-only marker leaves a participant's publish seq
    *    unresolvable (file folded, that table's watermark above the
    *    cut) — a wrong include tears here, a wrong exclude tears in
    *    the sibling that already folded it.
    * The message names the transaction's publish window so the
    * caller can re-cut at ≥ max (include everywhere) or rely on
    * compaction-watermark retention for < min.
    *
    * v2 marker bodies (`<table>\t<walFileName>` lines) decide from
    * the marker alone; v1 bodies (bare table names) resolve each
    * participant by listing its directory. A marker deleted between
    * the listing and the read was fully folded everywhere — within
    * any admissible cut, no constraint.
    *
    * Scope: the guarantee is for cuts that precede the marker's
    * landing — i.e. any cut trailing the present by more than the
    * publish→marker commit latency (milliseconds, under the table
    * locks). A "cut" at the live edge racing an in-flight commit is
    * [[transactGetMulti]]'s domain: that path captures ONE marker
    * set for all tables, which a per-table snapshot replay cannot.
    */
  private def asOfExcludedTxnIds(table: String, cut: Long): Set[String] = {
    val ids = listCommittedTxnIds()
    if (ids.isEmpty) return Set.empty
    def pubOfName(n: String): Long =
      n.stripPrefix("wal-").takeWhile(_ != '-').toLong
    val excluded = mutable.HashSet.empty[String]
    ids.foreach { id =>
      val body =
        try new String(Files.readAllBytes(txnMarkerPath(id)), UTF_8)
        catch { case _: java.io.IOException => "" }
      val lines = body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      // participant → (pubSeq if resolvable, file name if known)
      val parts: Seq[(String, Option[Long], Option[String])] =
        if (lines.exists(_.contains('\t'))) lines.map { l =>
          val i = l.indexOf('\t')
          val (t, n) = (l.substring(0, i), l.substring(i + 1))
          (t, Some(pubOfName(n)), Some(n))
        } else lines.map { t =>
          val dir = Paths.get(rootDir, t)
          val found: Option[String] =
            if (!Files.isDirectory(dir)) None
            else {
              val s = Files.list(dir)
              try s.iterator().asScala.map(_.getFileName.toString)
                .find(n => LocalKVStore.crossTxnIdOf(n).contains(id))
              finally s.close()
            }
          (t, found.map(pubOfName), found)
        }
      if (parts.exists(_._1 == table)) {
        // a participant with no live file folded at ≤ its watermark;
        // the bound substitutes for the unknown publish seq when it
        // proves ≤ cut, and is AMBIGUOUS when above the cut
        def leqCut(p: (String, Option[Long], Option[String])) = p match {
          case (_, Some(seq), _) => Some(seq <= cut)
          case (t, None, _) =>
            if (compactionWatermark(t) <= cut) Some(true) else None
        }
        val decisions = parts.map(leqCut)
        if (!decisions.forall(_.contains(true))) {
          // not (provably) fully within the cut → must exclude
          // everywhere it WOULD appear; check this table's side
          val mine = parts.find(_._1 == table).get
          val ambiguous = decisions.contains(None)
          val minePast = leqCut(mine).contains(true)
          val mineLive = mine._3.exists(n =>
            Files.exists(tableDir(table).resolve(n)))
          if (minePast && !mineLive) {
            val pubs = parts.flatMap(_._2)
            throw new IllegalStateException(
              s"asOfSeq=$cut tears cross-table transaction $id: its ops " +
                s"in '$table' were already folded into the base, but the " +
                s"transaction published up to ${pubs.maxOption.getOrElse(-1L)} " +
                s"in ${parts.map(_._1).mkString("{", ",", "}")}. Choose a " +
                "cut at or after that seq to include it everywhere.")
          }
          if (ambiguous && minePast) {
            throw new IllegalStateException(
              s"asOfSeq=$cut cannot be proven cross-table consistent for " +
                s"transaction $id (a v1 marker leaves a participant's " +
                s"publish seq unresolvable in ${parts.map(_._1).mkString("{", ",", "}")}); " +
                "re-cut at a seq covering every participant's watermark, " +
                "or recommit the store to refresh markers to v2.")
          }
          if (minePast) excluded += id
          // mine not ≤ cut: the pubSeq filter already drops it here
        }
      }
    }
    excluded.toSet
  }

  // ---- change feed (streaming read offsets) ----

  /** WAL file names in replay order — the streaming source's offset
    * space. Names embed a zero-padded write-job seq, so lexicographic
    * order IS replay order, and the set only grows (append-only
    * journal): "last name processed" is a complete, O(1)-size offset.
    */
  def walFileNames(table: String): Seq[String] =
    listFiles(table, "wal-").map(_.getFileName.toString)

  /** ONE directory pass feeding the change-feed offset decision:
    * (all published WAL names, floor over live unpublished buffers).
    *
    * The floor for a live `.tmp` buffer is `max(callerSeq, mtime)`:
    * its eventual published name carries `pubSeq = max(seq, closeTime)`
    * and `closeTime >= mtime`, so a fence held strictly below the
    * floor can never be overtaken by that publish — even one
    * descheduled for seconds inside close(). Using the mtime (not the
    * raw caller seq) keeps the floor tracking the buffer's RECENT
    * activity: a streaming sink whose caller seq is pinned at query
    * start does not drag the fence back to its start time. Buffers
    * idle longer than `liveWithinMs` are presumed dead (crashed
    * writer) and ignored.
    *
    * Single snapshot on purpose: a publish racing the listing shows up
    * as pending, as published, or (readdir permitting) as neither —
    * in which case the NEXT trigger claims it; it can never be counted
    * published by one listing and missed as pending by a later one.
    *
    * Clock-source note: mtimes come from the kernel's COARSE clock and
    * can lag `currentTimeMillis` by up to one tick (~1–10 ms), so the
    * floor may sit a few ms below names published in that window. The
    * skew is only ever conservative — a published name gets DEFERRED a
    * trigger, never skipped, because a buffer's eventual
    * `pubSeq = max(seq, precise close time)` is always ≥ this floor.
    */
  def walListingWithPendingFloor(
      table: String, liveWithinMs: Long): (Seq[String], Option[Long]) = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return (Seq.empty, None)
    val cutoff = System.currentTimeMillis() - liveWithinMs
    val published = Vector.newBuilder[String]
    var floor = Long.MaxValue
    val stream = Files.list(dir)
    try stream.iterator().asScala.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("wal-") && n.endsWith(".jsonl")) {
        LocalKVStore.crossTxnIdOf(n) match {
          case Some(id) if !crossTxnCommitted(id) =>
            // Published-but-unmarked cross-table file: not yet part of
            // the journal, but its commit marker lands moments later
            // with the SAME (already-assigned) pubSeq — hold the CDC
            // frontier below it exactly like an in-flight tmp buffer,
            // or an end offset advancing past its name would skip the
            // transaction forever once it commits. The same liveness
            // cutoff applies: a crashed publisher's orphan stops
            // fencing after `liveWithinMs` (the reaper deletes it).
            val mtime =
              try Files.getLastModifiedTime(p).toMillis
              catch { case _: java.io.IOException => Long.MinValue }
            if (mtime >= cutoff)
              floor = math.min(floor,
                math.max(n.stripPrefix("wal-").takeWhile(_ != '-').toLong, mtime))
          case _ => published += n
        }
      }
      else if (n.startsWith(".wal-") && n.endsWith(".jsonl.tmp")) {
        val mtime =
          try Files.getLastModifiedTime(p).toMillis
          catch { case _: java.io.IOException => Long.MinValue } // racing publish
        if (mtime >= cutoff) {
          val s = n.stripPrefix(".wal-").takeWhile(_ != '-')
          if (s.nonEmpty && s.forall(_.isDigit))
            floor = math.min(floor, math.max(s.toLong, mtime))
        }
      }
    } finally stream.close()
    (published.result().sorted, if (floor == Long.MaxValue) None else Some(floor))
  }

  /** Ops of one WAL file as (tag, item, serializedBytes) — the unit of
    * work one streaming input partition replays.
    */
  def readWalFile(table: String, fileName: String): Iterator[(String, Item, Int)] =
    Files.readAllLines(tableDir(table).resolve(fileName), UTF_8).asScala.iterator
      .filter(_.nonEmpty)
      .map { line =>
        val rec = ItemJson.parse(line)
        (rec("op").asInstanceOf[AttrVal.S].v,
          rec("item").asInstanceOf[AttrVal.M].v,
          line.length)
      }

  // ---- segmented scan (merged view: shards + WAL) ----

  /** Scan one segment of `totalSegments`, returning (item, byteSize)
    * — byteSize feeds the reader's consumed-capacity rate math. The
    * WAL is replayed per segment over only the keys that hash into
    * this segment, so segments stay disjoint and independently
    * computable on any executor.
    *
    * `asOfSeq`: snapshot read at a past journal sequence — the replay
    * fold simply stops admitting WAL files published after it, so the
    * view equals the table as of that offset (DynamoDB PITR's shape,
    * over the same journal the change feed exposes). The window
    * reaches back to the last compaction: [[compactShard]] folds the
    * journal into the base and deletes it, so compacted history is no
    * longer addressable — callers wanting deep time travel retain
    * their journal.
    */
  def scanSegment(table: String, segment: Int, totalSegments: Int,
      asOfSeq: Option[Long] = None,
      /** Pin the replay to exactly this journal-file set (a caller's
        * one-listing snapshot — [[transactGet]]); None = live listing.
        */
      allowedWal: Option[Set[String]] = None,
      /** Query-shape sub-shard pruning: when the caller's filters pin
        * the hash key and bound the sort key, base pages provably
        * outside this window are skipped ([[PageIndex]]). Purely an
        * I/O skip — the caller still evaluates the same filters on
        * every emitted item, so a missing/stale page directory only
        * costs bytes, never rows.
        */
      windows: Seq[PageIndex.KeyWindow] = Nil): Iterator[(Item, Int)] = {
    val meta = describe(table)
    // An asOfSeq below the compaction watermark is unsatisfiable: the
    // folded base would serve post-snapshot state for every key whose
    // journal history was compacted away — silently wrong results.
    // Fail loudly instead; callers wanting deep time travel must
    // retain their journal (skip compaction).
    asOfSeq.foreach { seq =>
      val wm = compactionWatermark(table)
      require(seq >= wm,
        s"asOfSeq=$seq predates the last compaction of '$table' " +
          s"(watermark $wm): that history was folded into the base and " +
          "is no longer addressable. Snapshot reads reach back only to " +
          "the most recent compaction.")
    }
    def inSegment(item: Item): Boolean =
      shardOf(meta, item) % totalSegments == segment

    // WAL replay for this segment's keys — the two-sided normal form
    // and its op algebra live at class level ([[KeyState]] /
    // [[applyOp]]): the delta-overlay index read folds the SAME
    // algebra over a key's delta suffix to decide base-independence.
    // Per-shard WAL files mean this map holds only this segment's
    // overridden keys, bounded by the segment's own write volume.
    val overrides = mutable.LinkedHashMap.empty[String, KeyState]
    // Folded-but-unreclaimed TRANSACTION files (found by the round-18
    // ops-racing-maintenance grid): a `-sall` file folds into a
    // shard's base at that shard's compactShard pass but is only
    // DELETED by the whole-table reclaim once EVERY shard folded it —
    // and a standalone per-shard fold (the TTL-reap path) runs no
    // reclaim at all. In between, replaying the file over the folded
    // base double-applies non-idempotent ops (ADD, path edits),
    // PERMANENTLY once the next fold bakes the replay in. The
    // per-shard compaction watermark records exactly the fold
    // frontier, per shard because frontiers differ across shards: a
    // txn-file op whose item lands in a shard with wm >= the file's
    // pubSeq is already IN that shard's base — skip it. Regular shard
    // files never need this (their fold deletes them in the same
    // pinned-listing pass). Watermarks are read once per scan, BEFORE
    // the base streams: a fold landing between this read and the base
    // read can still double-apply transiently (same class as the
    // other documented racing-read windows — a re-read heals); the
    // persistent corruption is what this closes.
    val wmCache = mutable.HashMap.empty[Int, Long]
    def foldedIntoBase(pub: Long, item: Item): Boolean = {
      val sh = shardOf(meta, item)
      pub <= wmCache.getOrElseUpdate(sh, shardCompactWm(table, sh))
    }
    walOps(table, segment, totalSegments, asOfSeq, allowedWal,
        skipFoldedTxnOp = foldedIntoBase).foreach { op =>
      if (inSegment(op.item)) {
        val k = keyOf(meta, op.item)
        overrides(k) = applyOp(overrides.getOrElse(k, initKeyState), op)
      }
    }
    scanSegmentTail(table, segment, totalSegments, meta, overrides, windows)
  }

  /** Each key's journal suffix collapses EAGERLY into a two-sided
    * normal form
    *   (present: what the base item becomes, absent: what nothing
    *    becomes)
    * where `present` is either Left(result) — base-INDEPENDENT
    * (PUT/DELETE won; whenever it is `Left(Some(x))`, `absent` is the
    * same `x`, so `x` IS the final item regardless of the base) — or
    * Right(attrs) — merge `attrs` over the base (pending UPDATEs; the
    * reference's UpdateItem upsert
    * [REF: connector/TableConnector.scala — updateItem]). The algebra
    * of {PUT, DELETE, UPDATE, PUTNX, UPDIF} is closed over this form,
    * so state stays O(1) per key (one attrs map, bounded by item
    * size) no matter how many ops the journal holds — never a chain
    * of per-op closures, and resolution at scan time is a single
    * merge.
    */
  private[dynamo] final case class KeyState(
      present: Either[Option[Item], Map[String, Pending]], absent: Option[Item])

  /** A pending per-attribute effect over an unknown base — the
    * `Right` side of [[KeyState]] generalized from a plain SET-merge
    * map so UpdateItem's ADD/REMOVE actions stay O(1)-foldable: SET
    * overwrites, ADD accumulates a numeric delta, REMOVE tombstones.
    * Still closed under every op, still one bounded map per key.
    */
  sealed trait Pending extends Serializable
  final case class PSet(v: AttrVal) extends Pending
  final case class PAdd(v: BigDecimal) extends Pending
  case object PRemove extends Pending
  /** Pending nested-document edits over the attr's unknown base value
    * ([[PathEdits]] folded into a `Right` suffix): applied to the
    * base's value at scan time, in order; the attr stays absent if
    * the base lacks it (the op never upserts).
    */
  final case class PPath(edits: Seq[LocalKVStore.PathEdit]) extends Pending
  /** Ordered composition for the rare pending pairs with no closed
    * one-step form (e.g. path edits followed by ADD: whether the ADD
    * sees a number depends on the base). Resolution folds the chain
    * left-to-right over the base value; still O(suffix ops) per key.
    */
  final case class PChain(ps: List[Pending]) extends Pending

  /** Resolve one attr's pending over its concrete current value
    * (None = absent). The single place pending semantics are defined
    * over values — [[resolvePending]] and [[PChain]] both fold it.
    */
  private def resolve1(cur: Option[AttrVal], p: Pending): Option[AttrVal] = p match {
    case PSet(v) => Some(v)
    case PAdd(v) => Some(cur match {
      case Some(AttrVal.N(x)) => AttrVal.N(x + v)
      case _ => AttrVal.N(v) // absent or non-number: ADD starts from 0
    })
    case PRemove => None
    case PPath(edits) => cur.map(v => edits.foldLeft(v)((vv, e) =>
      LocalKVStore.applyEdit1(vv, e).getOrElse(vv)))
    case PChain(ps) => ps.foldLeft(cur)(resolve1)
  }

  /** Resolve a pending map over a CONCRETE base item. */
  private[dynamo] def resolvePending(base: Item, m: Map[String, Pending]): Item =
    m.foldLeft(base) { case (acc, (k, p)) =>
      resolve1(acc.get(k), p).fold(acc - k)(v => acc + (k -> v))
    }

  private def pset(it: Item): Map[String, Pending] =
    it.map { case (k, v) => k -> (PSet(v): Pending) }

  /** ADD over a concrete item (absent attr counts as 0). */
  private def addConcrete(x: Item, adds: Map[String, BigDecimal]): Item =
    adds.foldLeft(x) { case (acc, (k, v)) =>
      acc + (k -> (acc.get(k) match {
        case Some(AttrVal.N(n)) => AttrVal.N(n + v)
        case _ => AttrVal.N(v)
      }))
    }

  private def removeTargets(it: Item): Set[String] =
    it.collect { case (k, AttrVal.Null) => k }.toSet

  private def keysOnly(it: Item): Item =
    it.filter(_._2 != AttrVal.Null)

  private[dynamo] def applyOp(st: KeyState, op: Op): KeyState = op match {
      case Put(it)    => KeyState(Left(Some(it)), Some(it))
      case Delete(_)  => KeyState(Left(None), None)
      case Update(it) => KeyState(
        st.present match {
          case Left(Some(x)) => Left(Some(x ++ it))
          case Left(None)    => Left(Some(it)) // update after delete = fresh item
          case Right(m)      => Right(m ++ pset(it))
        },
        st.absent.map(_ ++ it).orElse(Some(it)))
      case PutIfAbsent(it) => KeyState(
        st.present match {
          case Left(None) => Left(Some(it)) // deleted = absent → NX wins
          case other      => other          // any visible value → no-op
        },
        st.absent.orElse(Some(it)))
      case UpdateIfExists(it) => KeyState(
        st.present match {
          case Left(Some(x)) => Left(Some(x ++ it))
          case Left(None)    => Left(None)  // deleted = absent → no-op
          case Right(m)      => Right(m ++ pset(it)) // base present → merges
        },
        st.absent.map(_ ++ it)) // absent stays absent (no upsert)
      case AddTo(it, adds) => KeyState(
        st.present match {
          case Left(Some(x)) => Left(Some(addConcrete(x, adds)))
          case Left(None)    => // add after delete: fresh item from 0
            Left(Some(addConcrete(keysOnly(it) -- adds.keys, adds)))
          case Right(m) => Right(adds.foldLeft(m) { case (acc, (k, v)) =>
            acc + (k -> (acc.get(k) match {
              case Some(PSet(AttrVal.N(x))) => PSet(AttrVal.N(x + v))
              case Some(PSet(_))            => PSet(AttrVal.N(v)) // non-number: restart from 0
              case Some(PAdd(x))            => PAdd(x + v)
              // pending REMOVE made the attr ABSENT whatever the base
              // holds, so ADD restarts from 0 base-INDEPENDENTLY —
              // PAdd here would wrongly add onto the removed base
              // value at resolution (caught by the StoreLaws fuzz)
              case Some(PRemove)            => PSet(AttrVal.N(v))
              case None                     => PAdd(v)
              // whether ADD sees a number after path edits depends on
              // the base — no closed form, fold at resolution
              case Some(p: PPath)           => PChain(List(p, PAdd(v)))
              case Some(PChain(ps))         => PChain(ps :+ PAdd(v))
            }): (String, Pending))
          })
        },
        // over nothing: item materializes with the increments as values
        st.absent.map(addConcrete(_, adds))
          .orElse(Some(addConcrete(it.view.filterKeys(k => !adds.contains(k)).toMap, adds))))
      case RemoveAttrs(it) =>
        val rm = removeTargets(it)
        KeyState(
          st.present match {
            case Left(Some(x)) => Left(Some(x -- rm))
            case Left(None)    => Left(Some(keysOnly(it))) // upserts key-only, like UpdateItem
            case Right(m)      => Right(m ++ rm.map(k => k -> (PRemove: Pending)))
          },
          st.absent.map(_ -- rm).orElse(Some(keysOnly(it))))
      case RemoveAttrsIfExists(it) =>
        val rm = removeTargets(it)
        KeyState(
          st.present match {
            case Left(Some(x)) => Left(Some(x -- rm))
            case Left(None)    => Left(None) // deleted = absent → no-op (no phantom upsert)
            case Right(m)      => Right(m ++ rm.map(k => k -> (PRemove: Pending)))
          },
          st.absent.map(_ -- rm)) // absent stays absent
      case PathEdits(_, edits) =>
        KeyState(
          st.present match {
            case Left(Some(x)) => Left(Some(LocalKVStore.applyPathEdits(x, edits)))
            case Left(None)    => Left(None) // deleted = absent → no-op
            case Right(m) =>
              // fold per top-level attr into the pending normal form
              val byTop = edits.collect {
                case e @ LocalKVStore.PathEdit(Left(top) +: rest, _, app)
                  if rest.nonEmpty || app.isDefined => top -> e
              }
              Right(byTop.foldLeft(m) { case (acc, (top, e)) =>
                acc + (top -> (acc.get(top) match {
                  // attr value fully known → edit it concretely
                  case Some(PSet(v)) => PSet(
                    LocalKVStore.applyEdit1(v, e).getOrElse(v))
                  case Some(PPath(prior)) => PPath(prior :+ e)
                  // removed → absent → path doesn't exist → no-op
                  case Some(PRemove) => PRemove
                  // pending ADD resolves to a NUMBER; navigating into a
                  // number always fails → the edit is a no-op
                  case Some(p: PAdd) => p
                  case Some(PChain(ps)) => PChain(ps :+ PPath(Seq(e)))
                  case None => PPath(Seq(e))
                }): (String, Pending))
              })
          },
          st.absent.map(LocalKVStore.applyPathEdits(_, edits)))
  }

  /** A fresh fold state: a key first touched by UPDATE merges with
    * the base at scan time; by PUTNX keeps the base untouched.
    */
  private[dynamo] val initKeyState: KeyState =
    KeyState(Right(Map.empty[String, Pending]), None)

  /** Resolve one segment's base files against the folded overrides —
    * the back half of [[scanSegment]].
    */
  private def scanSegmentTail(table: String, segment: Int,
      totalSegments: Int, meta: TableMeta,
      overrides: mutable.LinkedHashMap[String, KeyState],
      windows: Seq[PageIndex.KeyWindow] = Nil): Iterator[(Item, Int)] = {
    val seen = mutable.HashSet.empty[String]
    val shardFiles = listFiles(table, "shard-")
      .filter(p => shardIndex(p) % totalSegments == segment)
    // Both arms stream with bounded per-task memory: the paged read
    // decodes one coalesced run (≤8 MiB) at a time, the full read one
    // line at a time (`streamLines`).
    // Under a Query window with a VALID page directory, only the
    // intersecting pages' bytes are read — sub-shard pruning. Keys in
    // skipped pages are outside the window by construction; their
    // journal overrides (if any) surface through `fresh` below in
    // absent-normal-form, carrying the same out-of-window key attrs
    // the caller's filters reject.
    val baseItems = shardFiles.iterator.flatMap { p =>
      windowPages(table, shardIndex(p), meta, windows)
        .flatMap(idx => PageIndex.readPages(p, idx.pages, idx.fileBytes, idx.mtimeNanos))
        .getOrElse(streamLines(p))
    }.flatMap { line =>
      val item = ItemJson.parse(line)
      val k = keyOf(meta, item)
      seen += k
      overrides.get(k) match {
        case None => Some((item, line.length))
        case Some(st) =>
          val resolved = st.present match {
            case Left(r)  => r
            case Right(m) => Some(resolvePending(item, m))
          }
          resolved.map(m => (m, ItemJson.write(m).length))
      }
    }
    def fresh = overrides.iterator.flatMap { case (k, st) =>
      if (seen.contains(k)) None
      else st.absent.map(it => (it, ItemJson.write(it).length))
    }
    // Iterator ++ is lazy left-to-right, so `fresh` (which needs the
    // final `seen` set) is only evaluated after baseItems drains.
    baseItems ++ fresh
  }

  /** First ~1 MB of items — schema-inference sample (A6), mirroring
    * the reference's one-page sample scan.
    */
  def samplePage(table: String, maxBytes: Int = LocalKVStore.driverReadBytes,
      asOfSeq: Option[Long] = None): Seq[Item] = {
    val it = scanSegment(table, 0, 1, asOfSeq)
    val out = Vector.newBuilder[Item]
    var bytes = 0
    while (it.hasNext && bytes < maxBytes) {
      val (item, sz) = it.next()
      out += item
      bytes += sz
    }
    out.result()
  }

  /** [[samplePage]] memoized per (root, table, asOfSeq), validated by
    * [[viewVersion]] (round 19, guide §6 metadata caching — the
    * driver-side analogue of a catalog's cached table schema). Every
    * `format("dynamo").load()` infers its schema from a fresh sample
    * page, which replays the base + journal merge single-threaded ON
    * THE DRIVER — stack-sampling the bench showed ~15–20% of the
    * q_dyn keys' wall time inside this pre-planning sample, repeated
    * identically per load of a content-stable store. The cache key is
    * the version stamp: any write (raises journal count/max pubSeq)
    * or compaction (moves the watermark) changes `viewVersion`, so a
    * mutated table re-samples — never a stale schema. Only the
    * default-`maxBytes` page is cached (the inference path); custom
    * page sizes go straight through.
    */
  def samplePageCached(table: String,
      asOfSeq: Option[Long] = None): Seq[Item] =
    sampleEntry(table, asOfSeq).items

  /** `Codec.inferSchema` of [[samplePageCached]]'s page, held in the
    * same cache entry: inferred once per sampled version instead of
    * on every `load()`.
    */
  def sampleSchemaCached(table: String,
      asOfSeq: Option[Long] = None): org.apache.spark.sql.types.StructType =
    sampleEntry(table, asOfSeq).schema

  private def sampleEntry(table: String,
      asOfSeq: Option[Long]): LocalKVStore.SampleEntry = {
    val key = (root, table, asOfSeq)
    val ver = viewVersion(table)
    val cache = LocalKVStore.sampleCache
    val hit = cache.synchronized(cache.get(key))
    if (hit != null && hit.version == ver) hit
    else {
      val fresh = new LocalKVStore.SampleEntry(ver, samplePage(table, asOfSeq = asOfSeq))
      cache.synchronized(cache.put(key, fresh))
      fresh
    }
  }

  /** Folds one shard's WAL into its base file and deletes that shard's
    * journal — shard-local state only (one shard's items + its own WAL
    * overrides in memory), and no file is shared with any other shard,
    * so concurrent calls on different shards are safe. This is the
    * unit [[DynamoMaintenance.compact]] fans out across executors.
    *
    * `reapTmpIdleMs`: write buffers idle longer than this are deleted
    * as abandoned. Keep it COMFORTABLY ABOVE any change-feed reader's
    * `cdcPendingTmpMs` — reaping a buffer the fence still considers
    * live would void the no-skip guarantee (the zombie writer's
    * close() then at least fails loudly on the missing rename source).
    */
  /** Write one shard's base file SORTED by (placement key, typed sort
    * key) — DynamoDB's within-partition sort order — and publish its
    * page directory ([[PageIndex]]): the layout that admits hash-eq +
    * sort-key-bounded reads of O(matching pages). Every layout-2
    * table gets one; a hash-only table's pages are bounded on the
    * hash component alone and carry [[PageIndex.NoSortKey]] as their
    * sort bounds, so its point reads cost one page too. Shared by
    * compaction and bulk load so the two cannot produce different
    * layouts. The sidecar is written AFTER the base move: its
    * recorded size must describe the live file (a crash between the
    * two leaves no sidecar — a full-shard read, not a wrong one).
    */
  private def writeSortedShard(table: String, meta: TableMeta, shard: Int,
      items: Vector[Item], stats: ShardStats.Builder = null): Unit = {
    val dir = tableDir(table)
    // `stats`, when given, folds the items in their given order during
    // the placement pass the sort needs anyway
    val keyed = LocalKVStore.keyedBy(items, placementOf(meta, _),
      meta.rangeKey.orNull, stats)
    LocalKVStore.sortKeyed(keyed, missingRangeFirst = false)
    // Page directory published under partition-key placement (layout
    // 2 — the layout where one hash key's sort run is shard-contiguous).
    val (idxPath, finalPath) = pagedFiles(table, shard, None)
    writePagedFile(
      tmp = dir.resolve(f"compact-$shard%03d.tmp"),
      finalPath = finalPath,
      idxPath = idxPath,
      sorted = keyed,
      indexable = meta.layout >= 2,
      rangeOf = meta.rangeKey match {
        case Some(rk) => it => it(rk)
        case None => _ => PageIndex.NoSortKey
      })
  }

  /** Low-level sorted-base writer shared by the base and GSI-copy
    * layouts: writes pre-sorted `sorted` to `finalPath` via tmp+move,
    * accumulating the page directory keyed by (hash, rangeOf) and the
    * pages' statistics in the same pass; `idxPath` is published when
    * `indexable`, else cleared.
    * The sidecar lands AFTER the base move: its recorded size must
    * describe the live file (a crash between the two leaves no
    * sidecar — a full read, not a wrong one).
    */
  private def writePagedFile(tmp: Path, finalPath: Path, idxPath: Path,
      sorted: Array[LocalKVStore.Keyed], indexable: Boolean,
      rangeOf: Item => AttrVal): Unit = {
    val pages = Vector.newBuilder[PageIndex.Page]
    var fileOff = 0L
    var pOff = 0L; var pLen = 0L; var pCount = 0
    var pMinH: String = null; var pMaxH: String = null
    var pMinR: AttrVal = null; var pMaxR: AttrVal = null
    // exact per-page column statistics (min/max/present/sum per attr,
    // row count) — the row-group-stats half of the Query fast path:
    // a window whose pages are all fully contained answers hash-pinned
    // aggregates from these with zero item reads
    var pStats = ShardStats.Builder.withoutSketch()
    def closePage(): Unit = if (pCount > 0) {
      pages += PageIndex.Page(pOff, pLen, pMinH, pMaxH, pMinR, pMaxR,
        Some(pStats.result()))
      pCount = 0; pLen = 0; pStats = ShardStats.Builder.withoutSketch()
    }
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try sorted.foreach { k =>
      val it = k.item
      val line = ItemJson.write(it)
      val bytes = LocalKVStore.utf8Length(line) + 1L
      if (indexable) {
        val h = k.hash
        val r = rangeOf(it)
        // Hash-group alignment: when the partition key CHANGES and the
        // open page is already substantial, close it so the new group
        // starts on a page boundary — large key runs (the time-series
        // shape) then consist of PURE pages end to end, which is what
        // lets a hash-pinned aggregate answer from page statistics
        // with zero item reads (a straddling page poisons the whole
        // window's containment proof). The size floor keeps small
        // interleaved groups packing densely: at most one early close
        // per ≥64-row group, so the directory grows by at most one
        // page per large group.
        if (pCount >= PageIndex.pageAlignMinItems && pMaxH != null && h != pMaxH)
          closePage()
        if (pCount == 0) { pOff = fileOff; pMinH = h; pMinR = r }
        pMaxH = h; pMaxR = r
        pCount += 1; pLen += bytes
        pStats.add(it)
        if (pCount >= PageIndex.pageMaxItems || pLen >= PageIndex.pageMaxBytes)
          closePage()
      }
      w.write(line); w.write("\n")
      fileOff += bytes
    } finally w.close()
    closePage()
    // same-directory rename: ATOMIC_MOVE is supported everywhere this
    // runs and keeps a concurrent reader from observing a half-copied
    // file on filesystems where a plain move degrades to copy+delete
    Files.move(tmp, finalPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    if (indexable)
      PageIndex.write(idxPath, PageIndex.ShardIndex(fileOff,
        PageIndex.mtimeNanosOf(finalPath), pages.result()))
    else Files.deleteIfExists(idxPath)
  }

  /** One index-copy shard, sorted by (index hash key, typed index
    * sort key) with its own page directory — the layout behind GSI
    * Queries (`gsi-pageidx-<name>-sNNN.jsonl`; the `gsi-` prefix
    * means every copy-invalidation path clears it with the copy).
    * Directory published only when the index HAS a sort key and
    * every projected item carries it (a sparse sort key would leave
    * pages without comparable bounds — decline, full read).
    */
  private def writeIndexShardSorted(table: String, name: String,
      ix: IndexMeta, shard: Int, items: Vector[Item]): Unit = {
    val dir = tableDir(table)
    val sorted = LocalKVStore.keyedBy(items, it => encKeyAttr(it(ix.hashKey)),
      ix.rangeKey.orNull, stats = null)
    LocalKVStore.sortKeyed(sorted, missingRangeFirst = true)
    val (idxPath, finalPath) = pagedFiles(table, shard, Some(name))
    writePagedFile(
      tmp = dir.resolve(f".gsi-$name-shard-$shard%03d.jsonl.tmp"),
      finalPath = finalPath,
      idxPath = idxPath,
      sorted = sorted,
      indexable = ix.rangeKey.isDefined && sorted.forall(_.range != null),
      rangeOf = it => it(ix.rangeKey.get))
  }

  def compactShard(table: String, shard: Int,
      reapTmpIdleMs: Long = 3600000L,
      expireTtl: Option[(String, Long)] = None): Unit = {
    val meta = describe(table)
    val dir = tableDir(table)
    // A "segment" of totalSegments = meta.shards is exactly one shard.
    // `expireTtl = (attr, nowEpochS)`: physically drop items whose ttl
    // attribute is strictly below `now` while folding — the reaper half
    // of the TTL story (reads only HIDE expired items; this reclaims
    // them, like DynamoDB's background TTL deletion). Same liveness
    // rule as scan-time Ttl.alive: non-numeric/missing attr = live.
    val expired: Item => Boolean = expireTtl match {
      case None => _ => false
      case Some((attr, now)) => item => item.get(attr) match {
        case Some(AttrVal.N(v)) => v < BigDecimal(now)
        case _ => false
      }
    }
    // ONE journal listing end to end: the fold replays exactly this
    // set and the delete step below removes exactly this shard's
    // slice of it. Deriving the delete list from a SECOND listing
    // would delete-without-folding any file published between the
    // fold's internal listing and the delete's — losing the write
    // (the replication racing-compaction law caught exactly that).
    // Files published after this pin survive the pass and replay over
    // the new base, which is safe: they are strictly newer ops.
    //
    // Cross-table PENDING fence, from the SAME raw listing: an
    // unmarked `.x<txnId>` file will become visible at its already-
    // assigned pubSeq when its marker lands — folding any file ABOVE
    // that pubSeq now would later replay the committed transaction
    // UNDER history it should sort below (order inversion). Fold only
    // strictly below the pending floor; everything above stays in the
    // journal and keeps replaying in name order. Orphans (publisher
    // died pre-marker) stop fencing when the reaper deletes them.
    val rawPin = listWalRawNames(table)
    // committedness evaluated ONCE per name (a marker landing mid-
    // derivation must not flip a file between the floor and the fold)
    val committedPin = rawPin.map(n =>
      n -> LocalKVStore.crossTxnIdOf(n).forall(crossTxnCommitted)).toMap
    val pinFloor = rawPin.iterator.filterNot(committedPin)
      .map(walPubSeqName).foldLeft(Long.MaxValue)(math.min)
    val pinned = rawPin.iterator
      .filter(n => committedPin(n) && walPubSeqName(n) < pinFloor)
      .map(dir.resolve(_)).toSeq
    val pinnedNames = Some(pinned.map(_.getFileName.toString).toSet)
    val merged = scanSegment(table, shard, meta.shards,
        allowedWal = pinnedNames).map(_._1)
      .filterNot(expired).toVector
    // Exact zone map of the folded shard — the narrowing step (deletes
    // and TTL reaping take effect here), folded in the sort's own
    // placement pass. Written BEFORE the journal deletes: a concurrent
    // planner unioning new-base + old-journal stats still
    // over-approximates.
    val shardStats = ShardStats.Builder()
    writeSortedShard(table, meta, shard, merged, shardStats)
    val zTmp = dir.resolve(f"zstat-compact-s$shard%03d.tmp")
    Files.write(zTmp, ShardStats.toJson(shardStats.result()).getBytes(UTF_8))
    Files.move(zTmp, dir.resolve(f"zstat-shard-s$shard%03d.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val folding = pinned.filter(walShard(_) == shard)
    // Snapshot watermark: once these journal files fold into the base,
    // history at or below their pubSeq is no longer addressable — an
    // `asOfSeq` read below the mark would silently return POST-snapshot
    // state (the base always participates in replay). Record the
    // high-water mark so scanSegment can reject unsatisfiable snapshot
    // reads loudly. One file per shard (compaction runs shard-parallel
    // — a shared file would race); written atomically via tmp+move.
    //
    // TRANSACTION (`-sall`) files count here too, even though only the
    // whole-table reclaim may DELETE them: their ops entered this
    // shard's base at this fold, so (a) an asOfSeq below their pubSeq
    // already reads post-cut state through the base, and (b) a pinned
    // snapshot read (transactGet/transactGetMulti) whose listing
    // predates a racing transaction could otherwise see that
    // transaction leak in through the base of the shards it reads
    // AFTER this fold — with NO watermark movement for its retry
    // fence to detect (the reclaim-time bump only covers files
    // captured BEFORE the pass, so a mid-pass-committed transaction
    // folded here moved nothing). Every fold must be observable.
    (folding ++ pinned.filter(walShard(_) == LocalKVStore.TxnShard))
      .map(walPubSeq).maxOption.foreach { mx =>
      val wmPath = dir.resolve(f"compact-wm-s$shard%03d")
      val prev =
        if (Files.exists(wmPath))
          new String(Files.readAllBytes(wmPath), UTF_8).trim.toLong
        else 0L
      if (mx > prev) {
        val wmTmp = dir.resolve(f"compact-wm-s$shard%03d.tmp")
        Files.write(wmTmp, mx.toString.getBytes(UTF_8))
        Files.move(wmTmp, wmPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    folding.foreach(Files.delete)
    // Journal zone maps whose WAL file is gone (just folded, or an
    // orphan from a crash between the two publish renames) are dead
    // weight — their values are covered by the new base stats.
    val liveWal = listFiles(table, "wal-")
      .map(p => p.getFileName.toString.stripPrefix("wal-").stripSuffix(".jsonl")).toSet
    listStatFiles(table).foreach { p =>
      val core = p.getFileName.toString.stripPrefix("zstat-").stripSuffix(".json")
      if (!core.startsWith("shard-") && walStatShard(p) == shard && !liveWal(core))
        Files.deleteIfExists(p)
    }
    // Reap abandoned write buffers for this shard: a `.tmp` idle past
    // the window has no live writer (crashed before publish). Deleting
    // it both bounds orphan accumulation and makes a zombie writer's
    // eventual close() fail loudly (missing rename source) instead of
    // silently publishing behind committed change-feed offsets.
    val reapCutoff = System.currentTimeMillis() - reapTmpIdleMs
    val stream = Files.list(dir)
    val stale = try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".wal-") && n.endsWith(f"-s$shard%03d.jsonl.tmp") &&
          (try Files.getLastModifiedTime(p).toMillis < reapCutoff
           catch { case _: java.io.IOException => false })
      }.toList
    finally stream.close()
    stale.foreach(Files.deleteIfExists(_))
  }

  /** Full-table compaction, restoring pure-streaming scans (no
    * override map). Driver-side sequential loop — the distributed form
    * is [[DynamoMaintenance.compact]].
    */
  def compact(table: String): Unit = {
    val txnBefore = txnJournalNames(table)
    val txnFloor = pendingTxnFloor(table) // captured WITH txnBefore
    (0 until describe(table).shards).foreach(compactShard(table, _))
    reclaimTxnJournal(table, txnBefore, txnFloor)
    reapStaleTmp(table)
    reapTxnMarkers()
    refreshIndexes(table)
  }

  /** Reap dot-prefixed buffer files abandoned by a writer that died
    * without reaching commit OR abort (a hard driver crash between a
    * job-mode stage and its fence, a kill -9 mid-WAL-write). Nothing
    * references a `.tmp` except its own writer; two age thresholds
    * keep in-flight writers safe: per-shard WAL buffers (`-sNNN`)
    * live only for one TASK, so an hour is far above their lifetime —
    * but staged TRANSACTION buffers (`-sall`) legitimately wait for
    * the whole JOB's commit fence, so they get a day (a job-mode
    * write running past that has bigger problems, and reaping a live
    * one would let the fence publish a prefix). Run from full-table
    * compaction: the maintenance pass that already owns journal
    * lifecycle.
    */
  private[dynamo] def reapStaleTmp(
      table: String,
      taskAgeMs: Long = 60L * 60 * 1000,
      jobAgeMs: Long = 24L * 60 * 60 * 1000): Unit = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return
    val now = System.currentTimeMillis()
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.endsWith(".tmp") && {
          val cutoff =
            now - (if (n.contains("-sall.")) jobAgeMs else taskAgeMs)
          try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: java.io.IOException => false }
        }
      }
      .toList.foreach(Files.deleteIfExists(_))
    finally stream.close()
    reapOrphanPending(table, jobAgeMs)
  }

  /** Reap published-but-never-committed cross-table pending files: a
    * publisher that died between its per-table publishes and the
    * commit marker leaves `.x<txnId>` files that no listing will ever
    * include (and that hold the CDC frontier down while young). The
    * job-age threshold mirrors the staged-transaction rule — the
    * marker lands milliseconds after the publish under the same
    * locks, so anything unmarked after a day is a crash, not a
    * writer. Also drops commit markers whose journal files have all
    * folded away in every table under this root (age-gated too, so a
    * reader that listed an x-file moments ago still finds the
    * marker).
    */
  private def reapOrphanPending(table: String, jobAgeMs: Long): Unit = {
    val dir = tableDir(table)
    val now = System.currentTimeMillis()
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("wal-") && n.endsWith(".jsonl") &&
          LocalKVStore.crossTxnIdOf(n).exists(!crossTxnCommitted(_)) && {
            try Files.getLastModifiedTime(p).toMillis < now - jobAgeMs
            catch { case _: java.io.IOException => false }
          }
      }
      .toList.foreach { p =>
        val n = p.getFileName.toString
        Files.deleteIfExists(p)
        Files.deleteIfExists(p.resolveSibling(
          "zstat-" + n.stripPrefix("wal-").stripSuffix(".jsonl") + ".json"))
      }
    finally stream.close()
  }

  /** Recreate commit markers at a backup destination for every
    * committed cross-table journal file among `walNames` — atomic
    * tmp+move per marker, idempotent on re-backup.
    */
  private def shipTxnMarkers(destRoot: String, walNames: Seq[String]): Unit =
    walNames.flatMap(LocalKVStore.crossTxnIdOf).distinct.foreach { id =>
      val dst = Paths.get(destRoot, s".txn-commit-$id")
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        val tmp = Paths.get(destRoot, s".txn-commit-$id.tmp")
        val src = txnMarkerPath(id)
        val body =
          if (Files.exists(src)) Files.readAllBytes(src) else Array.empty[Byte]
        Files.write(tmp, body)
        Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Fold committed cross-table markers whose journal files are gone
    * from EVERY participant table (all compacted into bases) into the
    * applied manifest, then delete the marker files — the root
    * listing and every marker consumer stay bounded by IN-FLIGHT
    * transactions, not transaction history, and commit evidence
    * survives in `txn-applied.jsonl` ([[appliedManifestIds]]).
    *
    * v2 marker bodies name each participant's file, so folded-ness is
    * O(participants) existence probes — no walk over every table
    * directory. v1 name-only bodies (and hand-recovered empty ones)
    * fall back to one root walk for referenced-ness, shared across
    * all v1 ids. Age-gated: a marker younger than `ageMs` stays even
    * if unreferenced, so a reader holding a just-captured listing
    * resolves it without touching the manifest path. The gate is
    * minutes, not the old 24 h — deletion no longer loses evidence,
    * it only relocates it. Called from full-table compaction.
    */
  private[graft] def reapTxnMarkers(ageMs: Long = 10L * 60 * 1000): Unit = {
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) return
    val now = System.currentTimeMillis()
    val ids = listCommittedTxnIds()
    if (ids.isEmpty) return
    val fold = mutable.ArrayBuffer.empty[String]
    val v1 = mutable.ArrayBuffer.empty[String]
    ids.foreach { id =>
      val m = txnMarkerPath(id)
      val old =
        try Files.getLastModifiedTime(m).toMillis < now - ageMs
        catch { case _: java.io.IOException => false }
      if (old) {
        val body =
          try new String(Files.readAllBytes(m), UTF_8)
          catch { case _: java.io.IOException => "" }
        val lines = body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        if (lines.nonEmpty && lines.forall(_.contains('\t'))) {
          val allGone = lines.forall { l =>
            val i = l.indexOf('\t')
            !Files.exists(Paths.get(rootDir,
              l.substring(0, i), l.substring(i + 1)))
          }
          if (allGone) fold += id
        } else v1 += id
      }
    }
    if (v1.nonEmpty) {
      val referenced = mutable.HashSet.empty[String]
      val tables = Files.list(root)
      try tables.iterator().asScala.filter(Files.isDirectory(_)).foreach { td =>
        val fs = Files.list(td)
        try fs.iterator().asScala.foreach { p =>
          LocalKVStore.crossTxnIdOf(p.getFileName.toString)
            .foreach(referenced += _)
        } finally fs.close()
      } finally tables.close()
      fold ++= v1.filterNot(referenced)
    }
    if (fold.nonEmpty) {
      // manifest FIRST, then delete: a resolver always finds the id
      // in at least one place
      appliedManifestAppend(fold.toSeq)
      fold.foreach(id => Files.deleteIfExists(txnMarkerPath(id)))
    }
  }

  /** On-demand backup (DynamoDB's OnDemandBackup analogue): copy the
    * table directory into `destRoot/<table>` such that a store opened
    * at `destRoot` serves a CONSISTENT state, even if writers or a
    * compaction run concurrently. The copy order carries the
    * argument:
    *  1. `meta.json` first (layout/keys/indexes);
    *  2. journal files from ONE listing (a file deleted before its
    *     copy was folded by a concurrent compaction — skipped; the
    *     base copied LATER contains its ops);
    *  3. base shard files AFTER the journal — if compaction folded
    *     between, the base includes ops the journal copy ALSO holds,
    *     and replaying already-folded ops over the folded base is
    *     idempotent (the store's replay normal form: a journal PUT/
    *     UPDATE/DELETE reproduces exactly the folded outcome);
    *  4. zone-map sidecars LAST — a sidecar at least as new as its
    *     data only over-approximates (the sound direction; a missing
    *     one just disables pruning).
    * Writes landing after step 2's listing are simply not in the
    * backup (it captures a state between call start and end). GSI
    * copies are NOT shipped — restore rebuilds registered indexes
    * from the restored base ([[refreshIndexes]]), which also renders
    * freshness markers trivially correct.
    */
  /** Full copy, CONSISTENT under racing base rewrites: the base
    * manifest is captured BEFORE the copy and re-checked AFTER — a
    * compaction/reap/bulk-load landing mid-copy could otherwise
    * produce a torn cut (old shard bytes + the folded journal file
    * already deleted = those ops in NEITHER half) stamped with a
    * post-rewrite manifest that the next incremental would trust.
    * On mismatch the whole copy retries against the new state;
    * persistent churn fails loudly rather than publishing a torn
    * backup. Within one stable manifest window the order (journal
    * first, bases after) composes with compaction's own order (new
    * base published BEFORE its journal deletes) so every op lands in
    * at least one copied half.
    */
  def backupTable(table: String, destRoot: String): Unit = {
    // backing up FROM quarantined state (a torn backup, or a
    // mid-restore partial table) would propagate the tear into a
    // destination that then looks healthy — refuse at the source.
    // restore_table routes through here with the backup root as the
    // source, so a crashed backup can never restore silently short.
    assertNotRestorePending(table)
    var attempt = 0
    while (!backupTableOnce(table, destRoot)) {
      attempt += 1
      if (attempt >= 5) throw new IllegalStateException(
        s"backupTable('$table'): base state kept changing across " +
          s"$attempt full-copy attempts — retry when maintenance settles")
    }
  }

  /** One full-copy attempt; false = a base rewrite raced the copy. */
  private def backupTableOnce(table: String, destRoot: String): Boolean = {
    val manifest = baseManifest(table)
    val src = tableDir(table)
    val dst = Paths.get(destRoot, table)
    Files.createDirectories(dst)
    // crash contract (mirrors the restore quarantine): the pending
    // marker lands BEFORE the first byte moves and clears only after
    // the post-copy manifest + index refresh — a crash anywhere in
    // between leaves a destination every open/restore path REFUSES
    // (a torn re-backup would otherwise pass the prior manifest's
    // validation with silently missing folded rows). The stale
    // manifest is dropped up front for the same reason: no reader may
    // pair it with a mixed file set. Reruns converge (full copy).
    Files.write(dst.resolve("_backup_pending"),
      s"copy from $root started, not yet complete".getBytes(UTF_8))
    Files.deleteIfExists(dst.resolve("_backup_manifest"))
    def cp(p: Path): Unit =
      try Files.copy(p, dst.resolve(p.getFileName.toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.NoSuchFileException => () } // folded away
    cp(src.resolve("meta.json"))
    // a full copy REPLACES the destination's journal view: journal
    // files from an earlier backup that the source has since folded
    // would be harmless (idempotent replay over the folded base) but
    // stale — clear them so the destination mirrors the source set
    new LocalKVStore(destRoot).walFileNames(table)
      .foreach(n => Files.deleteIfExists(dst.resolve(n)))
    // ...and the destination's BASE view: a re-backup into the same
    // destination after a reshard-shrink or truncate would otherwise
    // leave orphan shard-NNN.jsonl (and their zone-map sidecars) from
    // the OLD layout, which a restored store merges into the view —
    // resurrected rows. Unlike the journal case this is a correctness
    // hole, not staleness: mirror-delete base files and sidecars the
    // source listing no longer has. (Copy-step REPLACE_EXISTING covers
    // same-name files; this covers DISAPPEARED names.)
    val srcNames = (listFiles(table, "shard-") ++ listStatFiles(table) ++
        listFiles(table, "pageidx-"))
      .map(_.getFileName.toString).toSet
    val dstListing = Files.list(dst)
    try dstListing.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("shard-") || n.startsWith("zstat-") ||
          n.startsWith("pageidx-")) && !srcNames(n)
      }.toList.foreach(Files.deleteIfExists(_))
    finally dstListing.close()
    val copiedWal = listFiles(table, "wal-")
    copiedWal.foreach(cp)
    // Cross-table commit markers live at the ROOT, not the table dir:
    // a copied `.x<txnId>` journal file is invisible at the
    // destination without its marker — recreate it there (the file
    // was in the listing, so it is committed at the source).
    shipTxnMarkers(destRoot, copiedWal.map(_.getFileName.toString))
    listFiles(table, "shard-").foreach(cp)
    listStatFiles(table).foreach(cp)
    // page directories travel with the base files they describe (the
    // size validation also protects a mismatched pair after a crash)
    listFiles(table, "pageidx-").foreach(cp)
    // replication sidecars: tombstones MUST survive a restore (a
    // replica restored without its delete history would let stale
    // peers resurrect deleted items on the next sync) and the
    // per-region watermarks preserve this store's replication view
    // (losing one only forces a safe full-sync fallback, but the copy
    // keeps restores incremental). Mirror-delete files GC has since
    // consolidated away, like the base case above.
    val srcRepl = (listFiles(table, "repltomb-") ++
        listFiles(table, "replmark-")).map(_.getFileName.toString).toSet
    val dstRepl = Files.list(dst)
    try dstRepl.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("repltomb-") || n.startsWith("replmark-")) &&
          !srcRepl(n)
      }.toList.foreach(Files.deleteIfExists(_))
    finally dstRepl.close()
    listFiles(table, "repltomb-").foreach(cp)
    listFiles(table, "replmark-").foreach(cp)
    // compaction watermarks: asOfSeq floors must survive the restore
    // (history below them is unaddressable in the source too)
    val st = Files.list(src)
    try st.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("compact-wm-") && !n.endsWith(".tmp")
      }.toList.foreach(cp)
    finally st.close()
    // a base rewrite during the copy voids the cut — retry
    if (baseManifest(table) != manifest) return false
    // manifest of the BASE files this backup captured (the PRE-copy
    // capture, just proven unchanged) — the incremental path's
    // change detector (see backupTableIncremental)
    Files.write(dst.resolve("_backup_manifest"), manifest.getBytes(UTF_8))
    new LocalKVStore(destRoot).refreshIndexes(table)
    Files.deleteIfExists(dst.resolve("_backup_pending"))
    true
  }

  /** (name, size, mtime) of every base-state file — anything that can
    * change WITHOUT a new journal file appearing: base shards (rewritten
    * by compaction, TTL reaping, bulk load) and the table meta (DDL).
    * An incremental backup is valid exactly while this matches.
    */
  private def baseManifest(table: String): String = {
    val dir = tableDir(table)
    // nanosecond mtimes: two same-size rewrites within one millisecond
    // would be invisible at millis — the snapshot-read fingerprint
    // fence (transactGet/transactGetMulti) needs the finer stamp, the
    // same reasoning as PageIndex's generation stamp. (Backup
    // manifests recorded at millis mismatch once and fall back to one
    // full copy — the safe direction.)
    (listFiles(table, "shard-") :+ dir.resolve("meta.json"))
      .filter(Files.isRegularFile(_))
      .map(p => s"${p.getFileName} ${Files.size(p)} " +
        s"${Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)}")
      .sorted.mkString("\n")
  }

  /** Delete part files a crashed PRIOR run left under a shared spill
    * dir (`.load-tmp`, `.gsi-build-*`, `gsi-tmp-*`, `reshard-tmp`). A
    * shard that receives no items in the new run never reopens its
    * part file, so a stale one from the crashed run would be read
    * back and merged — resurrecting rows the new input never held.
    * Single-process loaders call this on entry; the shard-parallel
    * spill paths ([[buildIndexShardParts]], [[reshardShard]]) share
    * one dir across tasks, so their ORCHESTRATOR
    * ([[DynamoMaintenance.buildIndex]]/[[DynamoMaintenance.reshard]])
    * calls it once before fanning out.
    */
  def clearSpillDir(table: String, dirName: String): Unit = {
    val tmp = tableDir(table).resolve(dirName)
    if (Files.isDirectory(tmp)) {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** [[baseStateFingerprint]] restricted to the shard files a pinned
    * read actually touches (plus the table meta): the snapshot-read
    * retry fence compares this before/after, and whole-table
    * sensitivity would make a read of ONE shard retry on rewrites of
    * every other — under a compaction loop that turns bounded retries
    * into spurious unpinnable failures.
    */
  private[dynamo] def shardStateFingerprint(table: String,
      shards: Seq[Int]): String = {
    val dir = tableDir(table)
    val names = shards.distinct.sorted.map(sh => f"shard-$sh%03d.jsonl") :+
      "meta.json"
    val body = names.map { n =>
      val p = dir.resolve(n)
      if (Files.isRegularFile(p))
        try s"$n ${Files.size(p)} " +
          s"${Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)}"
        catch { case _: java.io.IOException => s"$n RACING" }
      else s"$n ABSENT"
    }.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(body.getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  /** Digest of [[baseManifest]] — a compact "has any base-state file
    * been rewritten?" stamp. [[Replication.syncIncremental]] records it
    * beside the replication watermark: a compaction folding journal
    * files AT exactly the watermark pubSeq (a same-millisecond
    * publish racing the previous pass) leaves the compaction
    * watermark unchanged, but never leaves the base shards unchanged
    * — the fingerprint is the tell that forces the loud full-sync
    * fallback instead of silently skipping the folded write.
    */
  def baseStateFingerprint(table: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(baseManifest(table).getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Incremental on-demand backup: when the destination's manifest
    * proves the source BASE state is unchanged since the last backup
    * (no compaction/reap/bulk-load/DDL — any of those rewrites a base
    * file's size or mtime), ship ONLY the journal files the
    * destination lacks (plus their sidecars) — the backup cost is
    * O(new writes), not O(table). Any base change, a missing
    * manifest, or a first backup falls back to the FULL copy. Either
    * way the destination ends in the same consistent state a full
    * backup produces; registered GSIs refresh at the destination.
    */
  def backupTableIncremental(table: String, destRoot: String): Unit = {
    val dst = Paths.get(destRoot, table)
    val manifestPath = dst.resolve("_backup_manifest")
    val manifestAtStart = baseManifest(table)
    val incremental = Files.isRegularFile(manifestPath) &&
      // a pending marker voids the manifest even when it matches: the
      // crashed pass may have copied SOME journal files — only a full
      // pass re-establishes a provable state
      !Files.isRegularFile(dst.resolve("_backup_pending")) &&
      new String(Files.readAllBytes(manifestPath), UTF_8) == manifestAtStart
    if (!incremental) { backupTable(table, destRoot); return }
    // same crash contract as the full copy: a die between a copied
    // `-sall` transaction file and its shipped marker would leave the
    // destination's transaction invisible (reaper-bait) while its
    // OTHER table's half — from an earlier pass — serves: a
    // cross-table tear. Pending from first byte to done.
    Files.write(dst.resolve("_backup_pending"),
      s"incremental from $root started, not yet complete".getBytes(UTF_8))
    val dstStore = new LocalKVStore(destRoot)
    def cp(p: Path): Unit =
      try Files.copy(p, dst.resolve(p.getFileName.toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.NoSuchFileException => () }
    val have = dstStore.walFileNames(table).toSet
    val fresh = listFiles(table, "wal-")
      .filterNot(p => have(p.getFileName.toString))
    fresh.foreach(cp)
    // committed cross-table files need their root-level marker at the
    // destination too (see backupTable)
    shipTxnMarkers(destRoot, fresh.map(_.getFileName.toString))
    // replication sidecars ride every incremental pass: tombstone
    // files are append-only between GC passes (REPLACE_EXISTING makes
    // re-copies idempotent) and watermark files are tiny.
    listFiles(table, "repltomb-").foreach(cp)
    listFiles(table, "replmark-").foreach(cp)
    // their journal sidecars (name-matched; base sidecars unchanged
    // under an unchanged base manifest)
    val freshCores = fresh.map(p => p.getFileName.toString
      .stripPrefix("wal-").stripSuffix(".jsonl")).toSet
    listStatFiles(table).filter { p =>
      val core = p.getFileName.toString.stripPrefix("zstat-").stripSuffix(".json")
      freshCores(core)
    }.foreach(cp)
    // a compaction (or any base rewrite) racing the journal copy voids
    // the incremental premise — some just-folded journal file may have
    // vanished before its copy while the destination's base predates
    // the fold. Fall back to the (retry-validated) full copy.
    if (baseManifest(table) != manifestAtStart) {
      backupTable(table, destRoot) // full copy owns (and clears) pending
      return
    }
    if (fresh.nonEmpty) dstStore.refreshIndexes(table)
    Files.deleteIfExists(dst.resolve("_backup_pending"))
  }

  /** Names of the transaction journal files currently published —
    * capture BEFORE a compaction pass and hand the set back to
    * [[reclaimTxnJournal]]: only files every shard provably folded
    * may be reclaimed (a transaction landing mid-pass is missing from
    * the shards folded before it arrived and must keep replaying).
    */
  def txnJournalNames(table: String): Set[String] =
    listFiles(table, "wal-").filter(walShard(_) == LocalKVStore.TxnShard)
      .map(_.getFileName.toString).toSet

  /** Delete transaction journal files once EVERY shard has folded
    * them (full-table compaction only — a single shard's compaction
    * must leave them for the other shards, which is safe because
    * replaying an already-folded transaction is idempotent: its ops
    * sort BELOW any later journal entry and reproduce the folded
    * state). Watermark first, then delete — a crash between leaves
    * replayable files, never missing history; asOfSeq reads below the
    * mark are rejected like any compacted history.
    */
  private[dynamo] def reclaimTxnJournal(table: String, folded: Set[String],
      /** Min UNCOMMITTED pending pubSeq captured WITH `folded` (the
        * [[pendingTxnFloor]] at capture time): per-shard folds fence
        * below their own listing's floor, and any pending that could
        * have raised a shard's fence above a captured file's pubSeq
        * was (pubSeq being wall-clock-floored) already unmarked at
        * capture — so reclaiming only strictly below the CAPTURED
        * floor reclaims only files every shard provably folded.
        */
      foldCeiling: Long = Long.MaxValue): Unit = {
    val dir = tableDir(table)
    val txn = listFiles(table, "wal-")
      .filter(p => walShard(p) == LocalKVStore.TxnShard &&
        folded(p.getFileName.toString) && walPubSeq(p) < foldCeiling)
    if (txn.isEmpty) return
    val mx = txn.map(walPubSeq).max
    val wmPath = dir.resolve("compact-wm-txn")
    val prev =
      if (Files.exists(wmPath))
        new String(Files.readAllBytes(wmPath), UTF_8).trim.toLong
      else 0L
    if (mx > prev) {
      val wmTmp = dir.resolve("compact-wm-txn.tmp")
      Files.write(wmTmp, mx.toString.getBytes(UTF_8))
      Files.move(wmTmp, wmPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    txn.foreach { p =>
      val core = p.getFileName.toString.stripPrefix("wal-").stripSuffix(".jsonl")
      Files.deleteIfExists(dir.resolve(s"zstat-$core.json"))
      Files.delete(p)
    }
  }

  /** Highest journal pubSeq ever folded into the base by compaction
    * (0 = never compacted) — the floor below which `asOfSeq` snapshot
    * reads are unsatisfiable. Table-level max over the per-shard
    * marks: a snapshot must be consistent across the whole table, so
    * one compacted shard invalidates the epoch for all of them.
    */
  def compactionWatermark(table: String): Long = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return 0L
    val stream = Files.list(dir)
    // not via listFiles: the marks are bare numbers, not .jsonl content
    try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("compact-wm-") && !n.endsWith(".tmp") // .tmp = in-flight write
      }
      .map(p => new String(Files.readAllBytes(p), UTF_8).trim.toLong)
      .maxOption.getOrElse(0L)
    finally stream.close()
  }

  /** Delete all content (base shards + journal), keeping the table
    * definition — the `mode("overwrite")` reset. Not atomic: a
    * concurrent reader can observe the empty window, and an in-flight
    * writer's later publish survives the truncate (A14's non-atomic
    * commit model applies to overwrite too).
    */
  def truncateTable(table: String): Unit = {
    listFiles(table, "shard-").foreach(Files.delete)
    listFiles(table, "wal-").foreach(Files.delete)
    listStatFiles(table).foreach(Files.deleteIfExists(_))
    listFiles(table, "pageidx-").foreach(Files.deleteIfExists(_))
    deleteIndexFiles(table)
  }

  // ---- zone-map fold (scan-planning input) ----

  private def listStatFiles(table: String): Seq[Path] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("zstat-") &&
                     p.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    }
  }

  private def walStatShard(p: Path): Int = {
    val n = p.getFileName.toString.stripSuffix(".json")
    val suffix = n.substring(n.lastIndexOf("-s") + 2)
    if (suffix == "all") LocalKVStore.TxnShard else suffix.toInt
  }

  /** True when the table has no published journal files: every live
    * item is in a base shard and the base zone maps (rewritten EXACTLY
    * at bulk load / compaction) describe the merged view exactly — the
    * precondition for answering MIN/MAX from stats without scanning.
    */
  def journalEmpty(table: String): Boolean = listFiles(table, "wal-").isEmpty

  /** Shards with published journal files ([[LocalKVStore.TxnShard]]
    * included when transaction files exist — their ops can land in ANY
    * shard). A shard NOT in this set serves entirely from its base
    * file, whose sidecar stats are exact.
    */
  def journalShards(table: String): Set[Int] =
    listFiles(table, "wal-").map(walShard).toSet

  /** The zone map covering each shard's CURRENT merged view — `None`
    * per shard where pruning must be declined. A shard's map is the
    * union of the base shard's stats (required whenever a base file
    * exists) and every published journal file's stats for the shard
    * (each required — a journal file without readable stats, e.g. one
    * listed mid-publish or written by an older build, voids the
    * fold). Every piece must also be `complete`. The result
    * over-approximates the merged view (deletes/TTL narrow only at
    * compaction, which rewrites the base stats exactly), so
    * "predicate excludes the stats range" implies "predicate excludes
    * every item in the shard". ONE directory pass per call — the
    * planner consults all shards at once.
    */
  def tableZoneStats(table: String, shards: Int): IndexedSeq[Option[ShardStats]] = {
    val dir = tableDir(table)
    def read(p: Path): Option[ShardStats] =
      try Some(ShardStats.fromJson(new String(Files.readAllBytes(p), UTF_8)))
      catch { case _: Exception => None }
    val walByShard = listFiles(table, "wal-").groupBy(walShard)
    def statOf(p: Path): Option[ShardStats] = {
      val core = p.getFileName.toString.stripPrefix("wal-").stripSuffix(".jsonl")
      read(dir.resolve(s"zstat-$core.json"))
    }
    // transaction files (-sall) can hold items of ANY shard — their
    // stats widen every shard's map (over-approximate, sound)
    val txnStats = walByShard.getOrElse(LocalKVStore.TxnShard, Seq.empty).map(statOf)
    (0 until shards).map { shard =>
      val base: Option[ShardStats] =
        if (Files.isRegularFile(dir.resolve(f"shard-$shard%03d.jsonl")))
          read(dir.resolve(f"zstat-shard-s$shard%03d.json"))
        else Some(ShardStats.empty) // no base file = no base items
      val walStats = walByShard.getOrElse(shard, Seq.empty).map(statOf)
      val pieces = (base +: walStats) ++ txnStats
      if (pieces.exists(_.isEmpty)) None
      else {
        val folded = pieces.flatten.reduce(_.union(_))
        if (folded.complete) Some(folded) else None
      }
    }
  }

  // ---- resharding (layout change; see DynamoMaintenance.reshard) ----

  /** Reshard phase 1, the task-side unit: stream ONE old shard's items
    * into per-new-shard part files under `reshard-tmp/`. Memory is one
    * line at a time; tasks touch disjoint inputs and distinct part
    * files, so old shards reshard concurrently.
    */
  def reshardShard(table: String, oldShard: Int, newShards: Int): Unit = {
    val meta = describe(table)
    val tmp = tableDir(table).resolve("reshard-tmp")
    Files.createDirectories(tmp)
    val src = tableDir(table).resolve(f"shard-$oldShard%03d.jsonl")
    if (!Files.isRegularFile(src)) return
    val writers = mutable.HashMap.empty[Int, java.io.BufferedWriter]
    try {
      val lines = Files.lines(src, UTF_8)
      try lines.iterator().asScala.filter(_.nonEmpty).foreach { line =>
        val ns = math.floorMod(placementOf(meta, ItemJson.parse(line)).hashCode, newShards)
        val w = writers.getOrElseUpdate(ns, Files.newBufferedWriter(
          tmp.resolve(f"part-$ns%03d-from-$oldShard%03d.jsonl"), UTF_8))
        w.write(line); w.write("\n")
      } finally lines.close()
    } finally writers.values.foreach(_.close())
  }

  /** Reshard phase 2 (driver-side): concatenate each new shard's parts
    * in old-shard order (deterministic layout), swap the shard files,
    * rewrite the metadata. Requires the same exclusive access as
    * compaction — the journal must be empty (compact first: stale WAL
    * shard suffixes would replay into the wrong segment under the new
    * numbering) and no concurrent writer may hold the OLD shard count.
    */
  def finishReshard(table: String, newShards: Int): Unit = {
    val meta = describe(table)
    require(listFiles(table, "wal-").isEmpty,
      s"reshard of $table requires an empty journal; compact first")
    val dir = tableDir(table)
    val tmp = dir.resolve("reshard-tmp")
    (0 until newShards).foreach { ns =>
      val parts =
        if (!Files.isDirectory(tmp)) Seq.empty
        else {
          val s = Files.list(tmp)
          try s.iterator().asScala
            .filter(_.getFileName.toString.startsWith(f"part-$ns%03d-from-"))
            .toSeq.sortBy(_.getFileName.toString)
          finally s.close()
        }
      val w = Files.newBufferedWriter(tmp.resolve(f"shard-$ns%03d.jsonl"), UTF_8)
      try parts.foreach { p =>
        val lines = Files.lines(p, UTF_8)
        try lines.iterator().asScala.filter(_.nonEmpty)
          .foreach { l => w.write(l); w.write("\n") }
        finally lines.close()
      } finally w.close()
    }
    listFiles(table, "shard-").foreach(Files.delete)
    // Old-layout zone maps describe shard numbers that no longer mean
    // the same item set — stale stats would prune the WRONG shards.
    // Delete them all; the next compaction rebuilds exact ones. Same
    // for materialized index copies (their marker pins the old shard
    // count, but deleting is cheaper than letting readers re-check).
    listStatFiles(table).foreach(Files.deleteIfExists(_))
    deleteIndexFiles(table)
    // new-layout base files are concatenations, not sorted rewrites —
    // old page directories describe bytes that no longer exist
    listFiles(table, "pageidx-").foreach(Files.deleteIfExists(_))
    (0 until newShards).foreach { ns =>
      Files.move(tmp.resolve(f"shard-$ns%03d.jsonl"),
        dir.resolve(f"shard-$ns%03d.jsonl"))
    }
    val leftover = Files.list(tmp)
    try leftover.iterator().asScala.foreach(Files.deleteIfExists(_))
    finally leftover.close()
    Files.deleteIfExists(tmp)
    createTable(table, meta.copy(shards = newShards))
  }

  // ---- helpers ----

  private def shardIndex(p: Path): Int =
    p.getFileName.toString.stripPrefix("shard-").stripSuffix(".jsonl").toInt

  private def listFiles(table: String, prefix: String): Seq[Path] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      // Cross-table PENDING files (`.x<txnId>` in the writer slot) are
      // part of the journal only once their commit marker exists —
      // filtering HERE makes every consumer (scans, compaction, CDC,
      // replication, backups, view versions, index freshness) inherit
      // the all-or-nothing visibility rule from one place.
      try stream.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(prefix) && n.endsWith(".jsonl") &&
            LocalKVStore.crossTxnIdOf(n).forall(crossTxnCommitted)
        }
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    }
  }

  // ---- cross-table atomic transactions (shared commit marker) ----

  private[dynamo] def txnMarkerPath(txnId: String): Path =
    Paths.get(rootDir, s".txn-commit-$txnId")

  /** Has the cross-table transaction `txnId` committed at this root?
    * Positive results cache process-wide (commitment is monotone —
    * see [[LocalKVStore.committedTxnCache]]). A live marker answers
    * first; a marker already folded into the applied manifest
    * ([[reapTxnMarkers]]) answers through [[appliedManifestIds]] —
    * manifest membership ≡ "the marker existed", since only fully
    * folded COMMITTED markers ever enter it.
    */
  private[dynamo] def crossTxnCommitted(txnId: String): Boolean = {
    val key = rootDir + "|" + txnId
    LocalKVStore.committedTxnCache.contains(key) || {
      val ok = Files.exists(txnMarkerPath(txnId)) ||
        appliedManifestIds().contains(txnId)
      if (ok) LocalKVStore.committedTxnCache.add(key)
      ok
    }
  }

  /** Append-only manifest of cross-table transactions whose journal
    * files are FULLY folded into bases in every participant table
    * (`<root>/txn-applied.jsonl`, one id per line). Folding a
    * marker here and deleting the marker file ([[reapTxnMarkers]])
    * bounds the root listing by IN-FLIGHT transactions instead of
    * all history, while commit evidence survives forever — any
    * late resolver goes through [[crossTxnCommitted]], which
    * consults the manifest on a marker miss. The size-keyed cache
    * is sound because the file only ever grows (duplicate lines
    * from racing reapers are harmless set members).
    */
  private def appliedManifestPath: Path =
    Paths.get(rootDir, "txn-applied.jsonl")

  private def appliedManifestIds(): Set[String] = {
    val p = appliedManifestPath
    val size = try Files.size(p) catch { case _: java.io.IOException => -1L }
    if (size <= 0) return Set.empty
    Option(LocalKVStore.manifestCache.get(rootDir)) match {
      case Some((s, ids)) if s == size => ids
      case _ =>
        val ids =
          try Files.readAllLines(p, UTF_8).asScala.iterator
            .map(_.trim).filter(_.nonEmpty).toSet
          catch { case _: java.io.IOException => Set.empty[String] }
        LocalKVStore.manifestCache.put(rootDir, (size, ids))
        ids
    }
  }

  private def appliedManifestAppend(ids: Seq[String]): Unit =
    if (ids.nonEmpty) {
      // O_APPEND keeps concurrent reapers' small line batches whole on
      // POSIX; interleaving across batches is fine (it is a set)
      val ch = java.nio.channels.FileChannel.open(appliedManifestPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.APPEND)
      try ch.write(java.nio.ByteBuffer.wrap(
        ids.mkString("", "\n", "\n").getBytes(UTF_8)))
      finally ch.close()
    }

  /** Min pubSeq of any UNCOMMITTED cross-table pending file in this
    * table's journal (Long.MaxValue when none — the usual case). The
    * fence every history-consuming maintenance pass must respect: a
    * pending file becomes visible at its ALREADY-ASSIGNED pubSeq when
    * its marker lands, so folding or watermarking PAST that pubSeq
    * while it is still unmarked would replay it under (compaction) or
    * skip it forever (replication) once it commits. CDC applies the
    * same fence through [[walListingWithPendingFloor]].
    */
  private[dynamo] def pendingTxnFloor(table: String): Long =
    listWalRawNames(table).iterator
      .filter(n => LocalKVStore.crossTxnIdOf(n).exists(!crossTxnCommitted(_)))
      .map(walPubSeqName)
      .foldLeft(Long.MaxValue)(math.min)

  private[dynamo] def walPubSeqName(name: String): Long =
    name.stripPrefix("wal-").takeWhile(_ != '-').toLong

  /** RAW journal listing including uncommitted pending files —
    * [[transactGetMulti]] pins ONE captured marker set and decides
    * inclusion against it, so both tables' snapshots agree on exactly
    * which cross-table transactions are in.
    */
  private def listWalRawNames(table: String): Seq[String] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("wal-") && n.endsWith(".jsonl"))
        .toSeq.sorted
      finally stream.close()
    }
  }
}

object LocalKVStore {
  /** Sentinel shard id for transaction journal files (`-sall`
    * suffix): they belong to every segment's replay.
    */
  val TxnShard: Int = -1

  /** The most bytes a read on the driver takes: the schema-inference
    * sample page ([[LocalKVStore.samplePage]]) and the bound under
    * which a Query is served on the driver (`DynamoLocalScan`).
    */
  val driverReadBytes: Int = 1 << 20

  /** One sampled version of a table: the sample page, and the schema
    * inferred from it on first use.
    */
  private[graft] final class SampleEntry(val version: String, val items: Seq[Item]) {
    lazy val schema: org.apache.spark.sql.types.StructType = Codec.inferSchema(items)
  }

  /** [[LocalKVStore.samplePageCached]]'s backing map:
    * (root, table, asOfSeq) → the [[SampleEntry]] of the viewVersion
    * at sampling time. A new version REPLACES the entry, so the map
    * never grows with mutation history; distinct snapshots, roots and
    * dropped tables do add entries, so it keeps the
    * [[sampleCacheEntries]] most recently used (each sample is the
    * inference page, ≤ ~1 MB of parsed items). Accessed under its own
    * lock.
    */
  private[graft] val sampleCacheEntries = 64
  private[graft] val sampleCache =
    new java.util.LinkedHashMap[(String, String, Option[Long]), SampleEntry](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Option[Long]), SampleEntry]): Boolean =
        size > sampleCacheEntries
    }

  /** True for the value types DynamoDB accepts as KEY attributes
    * (S/N/B). Index visibility and shard placement consult this —
    * see [[LocalKVStore.indexView]]'s extended sparse rule.
    */
  private[dynamo] def keyTyped(a: AttrVal): Boolean = a match {
    case _: AttrVal.S | _: AttrVal.N | _: AttrVal.B => true
    case _ => false
  }

  /** One nested-document edit ([[LocalKVStore.PathEdits]]): `path` =
    * the top-level attr (Left) followed by M-field (Left) / L-index
    * (Right) segments; `value` Some = SET the leaf, None = REMOVE it.
    *
    * `append` turns the edit into the service's `list_append`: the
    * path must navigate to an existing LIST value and `value` must be
    * `Some(L(elems))` — the elements concatenate onto the list's end
    * (`Some(true)`) or front (`Some(false)`). Unlike SET/REMOVE the
    * path here may be a bare top-level attr (the common
    * `SET l = list_append(l, ?)` shape). A path that doesn't navigate
    * to a list keeps the op's documented replay contract: silent
    * no-op (a racing restructure degrades, never faults the fold).
    */
  final case class PathEdit(path: Seq[Either[String, Int]],
      value: Option[AttrVal], append: Option[Boolean] = None)

  /** Reserved wire attr carrying a PATH record's edit list. Only
    * PATH-tagged journal records have it, so no user attr collides.
    */
  private[dynamo] val EditsAttr = "__edits"

  private[dynamo] def encodeEdits(edits: Seq[PathEdit]): AttrVal =
    AttrVal.L(edits.toVector.map(e => AttrVal.M(
      Map("p" -> (AttrVal.L(e.path.toVector.map {
        case Left(f)  => AttrVal.S(f): AttrVal
        case Right(i) => AttrVal.N(i)
      }): AttrVal))
        ++ e.value.map(v => "v" -> v)
        ++ e.append.map(a => "a" -> (AttrVal.Bool(a): AttrVal))): AttrVal))

  private[dynamo] def decodeEdits(a: AttrVal): Seq[PathEdit] = a match {
    case AttrVal.L(es) => es.map {
      case AttrVal.M(m) => PathEdit(
        m("p") match {
          case AttrVal.L(segs) => segs.map {
            case AttrVal.S(f) => Left(f)
            case AttrVal.N(i) => Right(i.toInt)
            case other => throw new IllegalArgumentException(
              s"corrupt PATH record segment: $other")
          }
          case other => throw new IllegalArgumentException(
            s"corrupt PATH record path: $other")
        },
        m.get("v"),
        m.get("a").map {
          case AttrVal.Bool(b) => b
          case other => throw new IllegalArgumentException(
            s"corrupt PATH record append flag: $other")
        })
      case other => throw new IllegalArgumentException(
        s"corrupt PATH record edit: $other")
    }
    case other => throw new IllegalArgumentException(
      s"corrupt PATH record edits: $other")
  }

  /** Apply one edit to a concrete value (`segs` excludes the top-level
    * attr). Some(newValue) on success; None = navigation failed →
    * caller keeps the value untouched (the no-op contract).
    */
  private[dynamo] def editValue(v: AttrVal, segs: Seq[Either[String, Int]],
      set: Option[AttrVal]): Option[AttrVal] = segs match {
    case Seq() => None // top-level SET/REMOVE belongs to the plain ops
    case Seq(last) => (v, last) match {
      case (AttrVal.M(m), Left(f)) =>
        set match {
          case Some(nv) => Some(AttrVal.M(m + (f -> nv)))
          case None => if (m.contains(f)) Some(AttrVal.M(m - f)) else None
        }
      case (AttrVal.L(l), Right(i)) =>
        if (i < 0) None
        else if (i >= l.size)
          set.map(nv => AttrVal.L(l :+ nv)) // SET past the end appends
        else Some(AttrVal.L(set.fold(l.patch(i, Nil, 1))(nv => l.updated(i, nv))))
      case _ => None
    }
    case head +: rest => (v, head) match {
      case (AttrVal.M(m), Left(f)) =>
        m.get(f).flatMap(editValue(_, rest, set))
          .map(nv => AttrVal.M(m + (f -> nv)))
      case (AttrVal.L(l), Right(i)) if i >= 0 && i < l.size =>
        editValue(l(i), rest, set).map(nv => AttrVal.L(l.updated(i, nv)))
      case _ => None
    }
  }

  /** Navigate `segs` to a leaf and transform it with `f` (None from
    * `f` or a failed navigation = the whole edit is a no-op). Unlike
    * [[editValue]]'s SET leaf case this never CREATES the leaf — it is
    * the read-modify shape `list_append` needs, including at an empty
    * `segs` (a bare top-level attr).
    */
  private def mapAt(v: AttrVal, segs: Seq[Either[String, Int]])(
      f: AttrVal => Option[AttrVal]): Option[AttrVal] = segs match {
    case Seq() => f(v)
    case head +: rest => (v, head) match {
      case (AttrVal.M(m), Left(fld)) =>
        m.get(fld).flatMap(mapAt(_, rest)(f))
          .map(nv => AttrVal.M(m + (fld -> nv)))
      case (AttrVal.L(l), Right(i)) if i >= 0 && i < l.size =>
        mapAt(l(i), rest)(f).map(nv => AttrVal.L(l.updated(i, nv)))
      case _ => None
    }
  }

  /** Apply one edit to a TOP-LEVEL attr's concrete value (the edit's
    * `path.tail` navigates inside it). The single definition of edit
    * semantics over values — the item fold ([[applyPathEdits]]) and
    * the pending algebra's concrete resolutions all call here, so
    * SET/REMOVE/list_append can never drift between replay paths.
    * None = navigation failed / wrong shape → caller keeps the value
    * (the op's silent no-op replay contract).
    */
  private[dynamo] def applyEdit1(v: AttrVal, e: PathEdit): Option[AttrVal] =
    e.append match {
      case None => editValue(v, e.path.tail, e.value)
      case Some(atEnd) => e.value match {
        case Some(AttrVal.L(elems)) => mapAt(v, e.path.tail) {
          case AttrVal.L(cur) =>
            Some(AttrVal.L(if (atEnd) cur ++ elems else elems ++ cur))
          case _ => None // list_append onto a non-list: no-op at replay
        }
        case _ => None // corrupt operand (emitters always send an L)
      }
    }

  /** Apply a PATH op's edits to a concrete ITEM, in order. */
  private[dynamo] def applyPathEdits(x: Item, edits: Seq[PathEdit]): Item =
    edits.foldLeft(x) { (acc, e) =>
      e.path match {
        // SET/REMOVE need a nested path (top-level forms ride the
        // plain ops); list_append may target a bare top-level list
        case Left(top) +: rest if rest.nonEmpty || e.append.isDefined =>
          acc.get(top) match {
            case Some(v) => applyEdit1(v, e)
              .map(nv => acc + (top -> nv)).getOrElse(acc)
            case None => acc // attr absent → document path doesn't exist
          }
        case _ => acc
      }
    }

  /** Cross-table transaction id embedded in a PENDING journal file
    * name — `wal-<pubSeq>-<writerId>.x<txnId>-sall.jsonl`, where
    * txnId is exactly 16 lowercase hex chars — or None for every
    * ordinary journal file. The `.x<id>` rides in the writer-id
    * position so pubSeq/shard parsing is untouched; the strict
    * hex-16 + `-sall.jsonl` shape keeps caller-supplied writerIds
    * (which may contain dots) from false-matching.
    *
    * Visibility rule (the DynamoDB TransactWriteItems-across-tables
    * analogue): such a file is part of the journal IFF its commit
    * marker `<root>/.txn-commit-<txnId>` exists. The marker is ONE
    * file created with ONE atomic rename after every participating
    * table's pending file is on disk — so the whole multi-table
    * transaction commits atomically, where per-table renames alone
    * would expose table A's half before table B's.
    */
  private[dynamo] def crossTxnIdOf(name: String): Option[String] = {
    val suffix = "-sall.jsonl"
    if (!name.endsWith(suffix)) None
    else {
      val stem = name.dropRight(suffix.length)
      val i = stem.lastIndexOf(".x")
      if (i < 0) None
      else {
        val id = stem.substring(i + 2)
        if (id.length == 16 &&
            id.forall(c => c.isDigit || (c >= 'a' && c <= 'f'))) Some(id)
        else None
      }
    }
  }

  /** Positive-only cache of observed commit markers, keyed by
    * `<root>|<txnId>`. Sound because commitment is monotone: a marker
    * is only ever garbage-collected AFTER all of its journal files
    * folded away (at which point no listing can name the txn again),
    * so "seen committed once" never turns false while it matters.
    */
  private val committedTxnCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** rootDir → (manifest byte size, parsed id set). Append-only file,
    * so an unchanged size proves an unchanged set.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** GC backstop for streaming readers abandoned mid-iteration.
    * Executor-side early termination (limit pushdown) is closed
    * deterministically by the TaskContext completion hook, but a
    * DRIVER-side consumer that stops early (e.g. [[LocalKVStore.samplePage]]'s
    * byte-bounded schema sample) has no task context — its reader
    * would hold a file descriptor until process exit, and a
    * long-lived driver issuing many such calls exhausts fds. Closing
    * at GC of the abandoned iterator bounds the leak to the live-
    * reference window; close() is idempotent, so racing the
    * exhaustion/task-hook close is harmless. Hot per-call driver
    * paths ([[LocalKVStore.currentItem]]) drain deterministically
    * instead of relying on this.
    */
  private[dynamo] val readerCleaner: java.lang.ref.Cleaner =
    java.lang.ref.Cleaner.create()

  /** Order-preserving-per-type key encoding, shared with the scan
    * planner's window derivation ([[PageIndex.deriveWindow]]): the
    * hash component of the page sort order is this string's
    * lexicographic order, so both sides must agree byte-for-byte.
    */
  private[dynamo] def encKeyAttr(a: AttrVal): String = a match {
    case AttrVal.S(v) => "s:" + v
    case AttrVal.N(v) => "n:" + v.bigDecimal.stripTrailingZeros.toPlainString
    case AttrVal.B(v) => "b:" + java.util.Base64.getEncoder.encodeToString(v)
    case other => throw new IllegalArgumentException(s"unsupported key type $other")
  }

  /** Inverse of [[encKeyAttr]] — the encoding is prefix-tagged and
    * lossless (numbers normalize to stripped plain form, which
    * round-trips through BigDecimal), so a page directory's hash
    * bounds decode back to the typed value. None on an unrecognized
    * tag or unparseable payload (a caller treats that as "cannot
    * prove", never a crash).
    */
  private[dynamo] def decKeyAttr(s: String): Option[AttrVal] =
    if (s.startsWith("s:")) Some(AttrVal.S(s.substring(2)))
    else if (s.startsWith("n:"))
      scala.util.Try(AttrVal.N(BigDecimal(s.substring(2)))).toOption
    else if (s.startsWith("b:"))
      scala.util.Try(AttrVal.B(
        java.util.Base64.getDecoder.decode(s.substring(2)))).toOption
    else None

  /** Result of [[LocalKVStore.indexFreshness]] — how a materialized
    * GSI copy may serve reads right now.
    */
  sealed trait IndexServe extends Serializable
  /** Copy equals the current merged view — serve as-is. */
  case object IndexExact extends IndexServe
  /** Copy is behind by exactly `files` (replay-ordered journal file
    * names, `bytes` total) — serve copy + overlay.
    */
  final case class IndexDelta(files: Seq[String], bytes: Long) extends IndexServe
  /** Write-through tier: the copy plus `rounds` (per-index journal
    * files the applier published) reflects every WAL file up to the
    * applied marker with ZERO base-shard work; `delta` is the
    * un-applied WAL suffix (usually empty — the applier runs at
    * publish) still needing the classic overlay, `deltaBytes` its
    * size, and `buildDelta` the full post-BUILD suffix — the fallback
    * overlay a consistent-scan pin uses when it cannot prove its pin
    * covers the applied set.
    */
  final case class IndexJournal(rounds: Seq[String], delta: Seq[String],
      deltaBytes: Long, buildDelta: Seq[String]) extends IndexServe
  /** Unprovable — serve from the projected base-scan path. */
  case object IndexStale extends IndexServe

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  /** In-process lock per lock-file path: `FileChannel.lock` only
    * arbitrates BETWEEN JVMs (a second same-JVM locker throws), so
    * same-process callers serialize here first. A ReentrantLock (not
    * a monitor) so the index applier's non-blocking tryLock path and
    * the blocking transaction path exclude each other.
    */
  private[dynamo] def jvmLock(path: String): java.util.concurrent.locks.ReentrantLock =
    jvmLocks.computeIfAbsent(path, _ => new java.util.concurrent.locks.ReentrantLock)

  /** UTF-8 byte length of a string without materializing the byte
    * array, equal to `s.getBytes(UTF_8).length` — the journal bytes
    * [[LocalKVStore.WalWriter.append]] returns and the line lengths
    * behind every page offset. A valid surrogate pair is 4 bytes; an
    * unpaired surrogate encodes as the 1-byte replacement '?'.
    */
  private[dynamo] def utf8Length(s: String): Int = {
    var i = 0; var n = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (!Character.isSurrogate(c)) n += 3
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 1 // unpaired: the encoder writes the replacement '?'
      i += 1
    }
    n
  }

  /** An item decorated with its sort keys, computed once: `hash` is
    * the encoded placement (or index hash) key, `range` the sort-key
    * value or null when the item lacks it.
    */
  private[dynamo] final class Keyed(val hash: String, val range: AttrVal, val item: Item)

  /** Decorate `items` in their given order, folding each into `stats`
    * when one is given.
    */
  private[dynamo] def keyedBy(items: Vector[Item], hashOf: Item => String,
      rangeKey: String, stats: ShardStats.Builder): Array[Keyed] = {
    val out = new Array[Keyed](items.length)
    var i = 0
    items.foreach { it =>
      out(i) = new Keyed(hashOf(it),
        if (rangeKey == null) null else it.getOrElse(rangeKey, null), it)
      if (stats != null) stats.add(it)
      i += 1
    }
    out
  }

  /** Stable sort by (hash, typed sort key) — DynamoDB's within-
    * partition order. Two items that both carry a sort key compare by
    * [[PageIndex.tryCompare]], falling back to the encoded keys across
    * types; an item without one ties (`missingRangeFirst = false`, the
    * base layout) or sorts first (the index layout).
    */
  private[dynamo] def sortKeyed(keyed: Array[Keyed], missingRangeFirst: Boolean): Unit =
    java.util.Arrays.sort(keyed, (x: Keyed, y: Keyed) => {
      val c = x.hash.compareTo(y.hash)
      if (c != 0) c
      else {
        val a = x.range; val b = y.range
        if (a != null && b != null)
          PageIndex.tryCompare(a, b).getOrElse(encKeyAttr(a).compareTo(encKeyAttr(b)))
        else if (!missingRangeFirst || (a == null && b == null)) 0
        else if (a == null) -1
        else 1
      }
    })

  private val pubClocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  /** Process-wide last-stamped publish sequence per table directory —
    * the in-JVM half of the monotone publish fence (see
    * [[LocalKVStore.nextPubSeq]]). Keyed by directory path, like
    * [[jvmLock]], so every store instance over the same root shares
    * one clock.
    */
  private[dynamo] def pubClock(dirPath: String): java.util.concurrent.atomic.AtomicLong =
    pubClocks.computeIfAbsent(dirPath, _ => new java.util.concurrent.atomic.AtomicLong(0L))
}

/** TransactWriteItems `ConditionCheck` analogues: conditions on items
  * the transaction does NOT write, evaluated at publish time; a
  * failure aborts the whole transaction. The key item must carry the
  * full primary key.
  */
sealed trait TxnCheck { def key: ItemJson.Item }
object TxnCheck {
  final case class Exists(key: ItemJson.Item) extends TxnCheck
  final case class Absent(key: ItemJson.Item) extends TxnCheck
  final case class ValueEq(key: ItemJson.Item, attr: String,
      expected: AttrVal) extends TxnCheck
  /** General condition — the full ConditionExpression comparator
    * family (`=`, `<>`, ranges, IN, BETWEEN as a range conjunction,
    * `begins_with`/`contains` as the string filters,
    * `attribute_exists`/`attribute_not_exists` as IsNotNull/IsNull),
    * expressed as a Spark [[org.apache.spark.sql.sources.Filter]] and
    * evaluated over the key's CURRENT wire item with [[FilterEval]]'s
    * three-valued semantics: the check passes only when the predicate
    * is DEFINITELY TRUE against a present item (an absent item fails
    * every Cond — DynamoDB's rule; use [[Absent]] to assert absence).
    * Not covered (no Filter analogue): `size()` and
    * `attribute_type()`.
    */
  final case class Cond(key: ItemJson.Item,
      predicate: org.apache.spark.sql.sources.Filter) extends TxnCheck
}

/** A transaction condition did not hold at publish; nothing of the
  * transaction became visible.
  */
final class TxnCheckFailedException(msg: String)
    extends RuntimeException(msg)

/** Handle to a staged-but-unpublished transaction
  * ([[LocalKVStore.transactStage]]): names the dot-prefixed buffer
  * files deterministically, so it can travel from an executor (which
  * staged) to the driver (which publishes or discards) as a write
  * commit message.
  */
final case class StagedTxn(table: String, seq: Long, writerId: String)
    extends Serializable

/** One table's share of a cross-table transaction
  * ([[LocalKVStore.transactWriteMulti]]): the ops to apply and the
  * condition checks to evaluate against that table's current view.
  */
final case class TableTxn(table: String, ops: Seq[LocalKVStore#Op],
    checks: Seq[TxnCheck] = Nil)
