package graft.sources.dynamo

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.sources._

import graft.sources.dynamo.ItemJson.Item

/** Sorted-base page index — the `Query` fast path's storage half.
  *
  * DynamoDB's `Query` (KeyConditionExpression: hash-key equality plus
  * an optional sort-key condition) reads only the matching key range
  * of ONE partition via the table's B-tree; `Scan` + FilterExpression
  * reads everything [REF: connector/TableConnector.scala — query vs
  * scan]. The store's analogue: [[LocalKVStore.compactShard]] writes
  * each base shard SORTED by (placement key, typed sort key) and
  * records a sparse page directory in a `pageidx-sNNN.jsonl` sidecar
  * — per page: byte offset/length and the min/max composite key it
  * covers. A scan whose pushed conjuncts pin the hash key and bound
  * the sort key then reads only the intersecting pages — sub-shard
  * I/O pruning, composed UNDER the existing shard pruning (the shard
  * set first, then pages within the owning shard). Hash-only tables
  * get a directory too: their pages are bounded on the hash component
  * alone and carry [[NoSortKey]] as both sort bounds, so a hash pin
  * (GetItem, BatchGetItem, the store's own point reads) reads one
  * page instead of the owning shard.
  *
  * Soundness under the journal overlay: skipped pages hold only keys
  * OUTSIDE the qualifying window, so their base rows would be dropped
  * by the very filters the window was derived from (the reader
  * evaluates every pushed conjunct on every emitted item). A skipped
  * key with a pending journal op surfaces through the scan's
  * fresh-keys tail in its absent-normal-form — its key attrs still
  * fall outside the window, so the same filters drop it. Keys INSIDE
  * the window always have their base page read, so present-form
  * resolution (UPDATE over base) is never short-circuited.
  *
  * Staleness: the sidecar records the base file's byte size AND its
  * publish mtime (nanosecond precision) — a generation stamp, so even
  * a rewrite that happens to preserve the byte size is detected; any
  * rewrite path that does not refresh the sidecar (bulk load, reshard,
  * truncate) deletes it outright, and readers additionally ignore a
  * sidecar whose recorded size or stamp disagrees with the file — a
  * stale directory degrades to a full-shard read, never a wrong one.
  */
object PageIndex {

  /** Target page granularity: a page closes at either bound. Small
    * enough that a point-ish Query reads KBs from a GB shard; large
    * enough that the directory stays ~1/500th of the data.
    */
  val pageMaxItems = 256
  val pageMaxBytes = 64 * 1024

  /** Hash-group page alignment floor: a page that already holds this
    * many items closes early when the partition key changes, so a
    * large key's run occupies PURE pages (its window then answers
    * aggregates from page statistics alone — a run's TAIL below the
    * floor would otherwise straddle into the next group and poison
    * the whole window's containment proof). Below the floor, small
    * interleaved groups keep packing densely: alignment costs at most
    * one sub-page per ≥floor-row group, bounding directory growth to
    * ~1 extra line per such group.
    */
  val pageAlignMinItems = 32

  /** The fixed sort-key bound recorded on every page of a hash-only
    * table. Windows over such a table never bound the sort key, so
    * [[intersects]] and [[contains]] compare only the hash component
    * and this value is never compared.
    */
  val NoSortKey: AttrVal = AttrVal.N(BigDecimal(0))

  /** One page's composite-key coverage. `minR`/`maxR` are the typed
    * sort-key values (compared with the same semantics Spark uses:
    * UTF8String byte order for S, numeric for N); hash bounds are the
    * store's encoded-key strings, whose lexicographic order is the
    * file's sort order for the hash component.
    */
  final case class Page(off: Long, len: Long,
      minH: String, maxH: String, minR: AttrVal, maxR: AttrVal,
      /** Exact [[ShardStats]] of THIS page's rows (recorded at write
        * time since round 11) — the Parquet-row-group-statistics move:
        * a hash-pinned unfiltered aggregate whose window pages are all
        * FULLY inside the window answers from these with zero item
        * reads. None on directories written before the field existed
        * (they still prune; answering just declines).
        */
      stats: Option[ShardStats] = None)

  final case class ShardIndex(fileBytes: Long, mtimeNanos: Long,
      pages: Vector[Page])

  /** The qualifying key window of a Query-shaped filter set: hash key
    * pinned to one value, sort key optionally bounded. `None` bounds
    * = unbounded on that side. `prefix` is a `begins_with` constraint
    * carried in PREFIX space (a byte-successor upper bound could be
    * invalid UTF-8, so the intersection test compares char-truncated
    * strings instead — truncation is monotone in UTF8 byte order, so
    * a page whose first key already exceeds the prefix after
    * truncation provably holds no match).
    */
  final case class KeyWindow(hashEnc: String,
      lo: Option[AttrVal], loInc: Boolean,
      hi: Option[AttrVal], hiInc: Boolean,
      prefix: Option[String] = None)

  /** Typed comparison matching [[FilterEval]]'s literal semantics:
    * S by UTF8String (byte) order — java.lang.String.compareTo sorts
    * supplementary characters differently and would disagree with
    * Spark's own range evaluation — N numeric, B unsigned bytewise.
    * Cross-type or non-key types: None (incomparable → never prune).
    */
  def tryCompare(a: AttrVal, b: AttrVal): Option[Int] = (a, b) match {
    case (AttrVal.S(x), AttrVal.S(y)) => Some(AttrStats.utf8Compare(x, y))
    case (AttrVal.N(x), AttrVal.N(y)) => Some(x.compare(y))
    case (AttrVal.B(x), AttrVal.B(y)) =>
      var i = 0
      while (i < x.length && i < y.length) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return Some(c)
        i += 1
      }
      Some(java.lang.Integer.compare(x.length, y.length))
    case _ => None
  }

  /** Could the page contain a key inside the window? Lexicographic
    * interval intersection on the (hash, sort) composite: the page
    * covers [(minH,minR), (maxH,maxR)], the window is
    * {h} × [lo, hi]. Any incomparable compare answers `true` — a
    * page is only skipped when its whole interval PROVABLY misses.
    */
  def intersects(p: Page, w: KeyWindow): Boolean = {
    // window start (h, lo) must be <= page end (maxH, maxR)
    val startOk = {
      val c = w.hashEnc.compareTo(p.maxH)
      if (c < 0) true
      else if (c > 0) false
      else w.lo match {
        case None => true
        case Some(lo) => tryCompare(lo, p.maxR) match {
          case Some(x) => if (w.loInc) x <= 0 else x < 0
          case None => true
        }
      }
    }
    // page start (minH, minR) must be <= window end (h, hi)
    val endOk = {
      val c = p.minH.compareTo(w.hashEnc)
      if (c < 0) true
      else if (c > 0) false
      else {
        val hiOk = w.hi match {
          case None => true
          case Some(hi) => tryCompare(p.minR, hi) match {
            case Some(x) => if (w.hiInc) x <= 0 else x < 0
            case None => true
          }
        }
        // begins_with upper bound in prefix space: if the page's first
        // sort key, TRUNCATED to the prefix length, already exceeds
        // the prefix, every later key does too (truncation is monotone
        // in UTF8 byte order) — no key in the page can start with it.
        val prefOk = (w.prefix, p.minR) match {
          case (Some(pref), AttrVal.S(minS)) =>
            val trunc = minS.substring(0, math.min(pref.length, minS.length))
            tryCompare(AttrVal.S(trunc), AttrVal.S(pref)).forall(_ <= 0)
          case _ => true
        }
        hiOk && prefOk
      }
    }
    startOk && endOk
  }

  /** Is the page ENTIRELY inside the window — every row it holds
    * provably matches the hash pin AND the sort-key bounds? The dual
    * of [[intersects]], and the exactness condition for answering an
    * aggregate from the page's recorded [[ShardStats]]: a contained
    * page contributes ALL its rows, a merely-intersecting one would
    * contribute strays. Any incomparable compare answers `false` —
    * containment must be PROVEN.
    */
  def contains(p: Page, w: KeyWindow): Boolean =
    p.minH == w.hashEnc && p.maxH == w.hashEnc && {
      val loOk = w.lo.forall(lo => tryCompare(lo, p.minR) match {
        case Some(c) => if (w.loInc) c <= 0 else c < 0
        case None => false
      })
      val hiOk = w.hi.forall(hi => tryCompare(p.maxR, hi) match {
        case Some(c) => if (w.hiInc) c <= 0 else c < 0
        case None => false
      })
      // begins_with: both endpoints must carry the prefix — sort
      // order then puts every row in between inside the prefix too
      val prefOk = w.prefix.forall(pref => (p.minR, p.maxR) match {
        case (AttrVal.S(a), AttrVal.S(b)) =>
          a.startsWith(pref) && b.startsWith(pref)
        case _ => false
      })
      loOk && hiOk && prefOk
    }

  /** The exact window of one primary key: its hash value, and its
    * sort value as both inclusive bounds when the table has a sort
    * key. A point read passes it to [[LocalKVStore.scanSegment]] so
    * only the key's page is read from the owning shard's base.
    */
  def pointWindow(hashEnc: String, sortValue: Option[AttrVal]): KeyWindow =
    KeyWindow(hashEnc, sortValue, loInc = true, sortValue, hiInc = true)

  /** Spark filter literal → typed key value, shared by page windows
    * and the scan planner's key-shard pruning; None = a type the key
    * encoding does not cover (no window, full read, still correct).
    * v2-translated literals arrive as scala BigDecimal, v1 ones as
    * java's: both are accepted.
    */
  private[dynamo] def literalAttr(v: Any): Option[AttrVal] = v match {
    case s: String => Some(AttrVal.S(s))
    case n: Byte => Some(AttrVal.N(BigDecimal(n.toInt)))
    case n: Short => Some(AttrVal.N(BigDecimal(n.toInt)))
    case n: Int => Some(AttrVal.N(BigDecimal(n)))
    case n: Long => Some(AttrVal.N(BigDecimal(n)))
    case n: Double => Some(AttrVal.N(BigDecimal(n)))
    case n: Float => Some(AttrVal.N(BigDecimal(n.toDouble)))
    case n: java.math.BigDecimal => Some(AttrVal.N(BigDecimal(n)))
    case n: scala.math.BigDecimal => Some(AttrVal.N(n))
    case _ => None
  }

  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Hash-IN fan-out cap: a window per IN value is cheap (one
    * interval test per page per window), but an unbounded IN list
    * would make page selection quadratic-ish — beyond this many
    * pinned hash values, decline windowing (shard pruning still
    * applies, and the filters still evaluate).
    */
  val maxHashWindows = 64

  /** Derive the Query window set from pushed conjuncts: requires the
    * hash key pinned by equality OR a bounded IN list (DynamoDB's
    * BatchGetItem / multi-Query shape — one window per pinned value,
    * all sharing the sort-key bounds); sort-key bounds tighten from
    * every range conjunct found (`=`, `<`, `<=`, `>`, `>=`;
    * `begins_with` contributes its prefix as an inclusive lower bound
    * AND a prefix-space upper bound — see [[KeyWindow.prefix]]).
    * Disjunctions contribute nothing (only top-level conjuncts are
    * sound to window on). Soundness of the SET: a key outside every
    * window either fails the hash equality/IN conjunct or the range
    * conjuncts — both evaluated on every emitted item.
    *
    * EVERY hash-pinning conjunct participates: multiple `=`/`IN`
    * conjuncts on the hash key INTERSECT their value sets (in the
    * store's encoded-key space, whose equality is the comparison the
    * file order uses). This matters for the page-statistics ANSWER
    * path, which — unlike the scan path — never re-evaluates the
    * pushed conjuncts per row: a first-conjunct-only window for
    * `hk='a' AND hk='b'` would over-cover and return 'a'-rows'
    * aggregates where the true answer is the empty set. An empty
    * intersection, an unconvertible pinned value, or any over-cap IN
    * list declines windowing entirely (Nil) — sound in both
    * directions (scan: full read + row filters; answer: decline).
    * Incompatible `begins_with` prefixes decline the same way (see
    * the prefix fold below).
    */
  def deriveWindows(filters: Seq[Filter], hashKey: String, rangeKey: String): Seq[KeyWindow] =
    deriveWindows(filters, hashKey, Some(rangeKey))

  /** [[deriveWindows]] for a table that may have no sort key: with
    * `rangeKey = None` the windows pin the hash value alone (the
    * hash-only directory's shape, see [[NoSortKey]]).
    */
  def deriveWindows(filters: Seq[Filter], hashKey: String,
      rangeKey: Option[String]): Seq[KeyWindow] =
    deriveWindowsWithValues(filters, hashKey, rangeKey).map(_._2)

  /** [[deriveWindows]], keeping each window's pinned hash value in its
    * TYPED form alongside — the grouped page-statistics answer path
    * needs the value itself (one emitted group row per non-empty
    * window), not just its encoded-key spelling.
    */
  def deriveWindowsWithValues(filters: Seq[Filter], hashKey: String,
      rangeKey: Option[String]): Seq[(AttrVal, KeyWindow)] = {
    val flat = filters.flatMap(conjuncts)
    // one converted encoded-value map PER hash-pinning conjunct;
    // None = a conjunct whose window participation cannot be proven
    // (null / unconvertible / over-cap) — declines the whole set, so
    // no branch of an IN disjunction is ever silently dropped
    val pinSets: Seq[Option[Map[String, AttrVal]]] = flat.collect {
      case EqualTo(a, v) if a == hashKey =>
        if (v == null) None
        else literalAttr(v).map(x => Map(LocalKVStore.encKeyAttr(x) -> x))
      case In(a, vs) if a == hashKey =>
        if (vs == null || vs.isEmpty || vs.contains(null) ||
            vs.length > maxHashWindows) None
        else {
          val conv = vs.toSeq.flatMap(v =>
            literalAttr(v).map(x => LocalKVStore.encKeyAttr(x) -> x))
          if (conv.length == vs.length) Some(conv.toMap) else None
        }
    }
    if (pinSets.isEmpty || pinSets.exists(_.isEmpty)) return Nil
    val converted: Map[String, AttrVal] = pinSets.flatten.reduce(_ ++ _)
    val hashEncs: Seq[String] = pinSets.flatten
      .map(_.keySet).reduce(_ intersect _).toSeq.sorted
    if (hashEncs.isEmpty) return Nil
    // conjoined begins_with prefixes must form a chain (each a prefix
    // of the longest) — the longest then implies them all; diverging
    // prefixes make the true range empty, which page containment
    // cannot express, so decline
    val prefixes = flat.collect {
      case StringStartsWith(a, p) if rangeKey.contains(a) && p != null => p
    }
    val longestPrefix = prefixes.sortBy(-_.length).headOption
    if (longestPrefix.exists(lp => prefixes.exists(p => !lp.startsWith(p))))
      return Nil
    hashEncs.map { hEnc =>
      var lo: Option[AttrVal] = None; var loInc = true
      var hi: Option[AttrVal] = None; var hiInc = true
      def tightenLo(v: AttrVal, inc: Boolean): Unit = lo match {
        case None => lo = Some(v); loInc = inc
        case Some(cur) => tryCompare(v, cur) match {
          case Some(c) if c > 0 || (c == 0 && !inc) => lo = Some(v); loInc = inc
          case _ => ()
        }
      }
      def tightenHi(v: AttrVal, inc: Boolean): Unit = hi match {
        case None => hi = Some(v); hiInc = inc
        case Some(cur) => tryCompare(v, cur) match {
          case Some(c) if c < 0 || (c == 0 && !inc) => hi = Some(v); hiInc = inc
          case _ => ()
        }
      }
      flat.foreach {
        case EqualTo(a, v) if rangeKey.contains(a) && v != null =>
          literalAttr(v).foreach { x => tightenLo(x, inc = true); tightenHi(x, inc = true) }
        case GreaterThan(a, v) if rangeKey.contains(a) && v != null =>
          literalAttr(v).foreach(tightenLo(_, inc = false))
        case GreaterThanOrEqual(a, v) if rangeKey.contains(a) && v != null =>
          literalAttr(v).foreach(tightenLo(_, inc = true))
        case LessThan(a, v) if rangeKey.contains(a) && v != null =>
          literalAttr(v).foreach(tightenHi(_, inc = false))
        case LessThanOrEqual(a, v) if rangeKey.contains(a) && v != null =>
          literalAttr(v).foreach(tightenHi(_, inc = true))
        case StringStartsWith(a, p) if rangeKey.contains(a) && p != null =>
          // the chain check above proved the longest prefix implies
          // every other; each still tightens the lower bound
          tightenLo(AttrVal.S(p), inc = true)
        case _ => ()
      }
      converted(hEnc) -> KeyWindow(hEnc, lo, loInc, hi, hiInc, longestPrefix)
    }
  }

  // ---- sidecar I/O (ItemJson lines: header, then one line per page) ----

  /** Base-file generation stamp: last-modified time at nanosecond
    * precision (millis would make two same-size rewrites within one
    * tick indistinguishable on filesystems that store finer mtimes).
    */
  def mtimeNanosOf(p: Path): Long =
    Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)

  def write(path: Path, idx: ShardIndex): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName.toString + ".tmp")
    val sb = new StringBuilder()
    sb.append(ItemJson.write(Map(
      "fileBytes" -> AttrVal.N(BigDecimal(idx.fileBytes)),
      "mtime" -> AttrVal.N(BigDecimal(idx.mtimeNanos))))).append('\n')
    idx.pages.foreach { p =>
      val base = Map(
        "off" -> AttrVal.N(BigDecimal(p.off)),
        "len" -> AttrVal.N(BigDecimal(p.len)),
        "minH" -> AttrVal.S(p.minH), "maxH" -> AttrVal.S(p.maxH),
        "minR" -> p.minR, "maxR" -> p.maxR)
      // page stats carry no HLL registers (ShardStats.Builder
      // .withoutSketch): NDV never answers from page grain, and the
      // sketch would multiply the sidecar's size per page
      val withStats = p.stats.fold(base) { st =>
        base + ("stats" -> (AttrVal.S(ShardStats.toJson(st)): AttrVal))
      }
      sb.append(ItemJson.write(withStats)).append('\n')
    }
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Load and VALIDATE against the live base file: a recorded size OR
    * mtime that disagrees (any unrefreshed rewrite) discards the
    * directory — the mtime stamp makes a same-size swap (which a
    * size-only check would accept, serving old offsets against new
    * bytes) structurally detectable, not just improbable. Sidecars
    * from before the stamp existed carry no mtime and are discarded
    * the same way (they self-heal at the next compaction).
    * A sidecar that fails to PARSE is discarded the same way (full
    * read) rather than failing the scan: the directory is derived
    * data — publication is atomic (tmp+move), so a malformed file is
    * outside corruption, and correctness never depended on it.
    */
  def load(idxPath: Path, basePath: Path): Option[ShardIndex] =
    try loadStrict(idxPath, basePath)
    catch { case _: RuntimeException => None }

  private def loadStrict(idxPath: Path, basePath: Path): Option[ShardIndex] = {
    if (!Files.isRegularFile(idxPath) || !Files.isRegularFile(basePath)) return None
    val lines = Files.readAllLines(idxPath, UTF_8).asScala.filter(_.nonEmpty)
    if (lines.isEmpty) return None
    def n(it: Item, k: String): Option[Long] = it.get(k).collect { case AttrVal.N(v) => v.toLong }
    def s(it: Item, k: String): Option[String] = it.get(k).collect { case AttrVal.S(v) => v }
    val header = ItemJson.parse(lines.head)
    val recorded = n(header, "fileBytes").getOrElse(return None)
    val recordedMtime = n(header, "mtime").getOrElse(return None)
    if (recorded != Files.size(basePath)) return None
    if (recordedMtime != mtimeNanosOf(basePath)) return None
    val pages = lines.tail.map { ln =>
      val it = ItemJson.parse(ln)
      // page stats are OPTIONAL derived data: a missing or unparsable
      // blob only disables answering for this directory, never the
      // pruning the directory exists for
      val stats = s(it, "stats").flatMap(j =>
        try Some(ShardStats.fromJson(j))
        catch { case _: RuntimeException => None })
      Page(n(it, "off").getOrElse(return None), n(it, "len").getOrElse(return None),
        s(it, "minH").getOrElse(return None), s(it, "maxH").getOrElse(return None),
        it.getOrElse("minR", return None), it.getOrElse("maxR", return None),
        stats)
    }
    Some(ShardIndex(recorded, recordedMtime, pages.toVector))
  }

  /** Read only the selected pages' lines from the base file — the
    * sub-shard I/O skip itself. Pages are line-aligned by
    * construction; adjacent selected pages coalesce into one read.
    *
    * `expectedBytes`/`expectedMtime` re-validate the file ON THE OPEN
    * CHANNEL (`None` = mismatch, caller falls back to a full read): a
    * compaction/rebuild swapping the file between [[load]]'s
    * validation and the open here would otherwise serve new bytes at
    * old offsets. Once the channel is open the inode is pinned — an
    * atomic swap after that leaves us reading the (consistent) old
    * file the directory describes, so the returned iterator can be
    * LAZY: runs decode one at a time (≤8 MiB buffers), per-task
    * memory is O(run) not O(window). The channel closes when the
    * iterator exhausts; an early-terminated consumer (limit pushdown)
    * is covered by the task-completion hook registered when a Spark
    * task context is present.
    */
  def readPages(basePath: Path, pages: Seq[Page],
      expectedBytes: Long, expectedMtime: Long): Option[Iterator[String]] = {
    if (pages.isEmpty) return Some(Iterator.empty)
    // coalesce adjacent byte ranges so a wide window is one seek —
    // capped at 8 MiB per run, bounding each decode buffer
    val maxRunBytes = 8L * 1024 * 1024
    val sorted = pages.sortBy(_.off)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { p =>
      runs.lastOption match {
        case Some((off, len)) if off + len == p.off && len + p.len <= maxRunBytes =>
          runs(runs.size - 1) = (off, len + p.len)
        case _ => runs += ((p.off, p.len))
      }
    }
    if (mtimeNanosOf(basePath) != expectedMtime)
      return None // swapped since load() — full read
    val ch = java.nio.channels.FileChannel.open(basePath,
      java.nio.file.StandardOpenOption.READ)
    if (ch.size() != expectedBytes) { ch.close(); return None }
    // Re-check the stamp AFTER the open: a same-size atomic swap
    // landing between the pre-open check and the open would pass the
    // size-on-channel check while the channel holds the NEW inode —
    // old page offsets against new bytes, the exact hazard the stamp
    // closes. Post-open, the channel pins its inode, so a mismatch
    // here proves the path now names a different file than the
    // directory describes — fall back to the full read.
    if (mtimeNanosOf(basePath) != expectedMtime) { ch.close(); return None }
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => if (ch.isOpen) ch.close()))
    val runIt = runs.iterator
    val it = new Iterator[String] {
      private var cur: Iterator[String] = Iterator.empty
      private def advance(): Unit = {
        while (!cur.hasNext && runIt.hasNext) {
          val (off, len) = runIt.next()
          val buf = java.nio.ByteBuffer.allocate(len.toInt)
          ch.position(off)
          while (buf.hasRemaining && ch.read(buf) >= 0) ()
          cur = new String(buf.array(), 0, buf.position(), UTF_8)
            .split('\n').iterator.filter(_.nonEmpty)
        }
        if (!cur.hasNext && !runIt.hasNext && ch.isOpen) ch.close()
      }
      override def hasNext: Boolean = { advance(); cur.hasNext }
      override def next(): String = { advance(); cur.next() }
    }
    // Abandonment backstop (driver-side early termination, no task
    // context): close the channel at GC of the abandoned iterator.
    // The action captures only the channel; close() is idempotent.
    LocalKVStore.readerCleaner.register(it, () => {
      try { if (ch.isOpen) ch.close() } catch { case _: java.io.IOException => () }
    })
    Some(it)
  }
}
