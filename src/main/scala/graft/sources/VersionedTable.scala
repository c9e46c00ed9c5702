package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transactional table format — the atomic-commit core that
  * Iceberg/Delta provide, built from filesystem primitives (reference
  * analog: the iceberg catalog destination,
  * /root/reference/etl-destination/src/iceberg/catalog.rs).
  *
  * Layout (one layout: a table is keyed, its rows hashed into
  * partitions by [[keyPid]]):
  * {{{
  *   <root>/data/<uuid>/pid=<k>/   parquet files of ONE staged write,
  *                                 one subdir per partition label
  *   <root>/data/<uuid>/           a merge-on-read log (one file)
  *   <root>/_versions/v<%08d>.json manifest: one JSON record, fields
  *                                 tabled on [[Manifest]]
  * }}}
  * The table state IS the highest version file; data dirs are never
  * mutated or deleted by commits (only [[vacuum]] removes unreferenced
  * ones), which is what makes every guarantee below hold:
  *
  *  - '''Readers never see a partial write.''' A commit stages its
  *    parquet under a fresh `data/<uuid>` dir and its manifest under a
  *    temp name, then publishes with `Files.createLink` — hard-link
  *    creation is atomic, exposes the fully-written manifest inode,
  *    and FAILS if the version already exists (exactly CREATE_NEW).
  *    A crash anywhere before the link leaves orphan files, never a
  *    corrupt table.
  *  - '''Snapshot isolation.''' A reader resolves a manifest once;
  *    since commits only ADD data dirs and version files, the
  *    resolved file set stays valid under any concurrent writer.
  *  - '''Optimistic concurrency.''' Two writers racing to v(N+1):
  *    the link succeeds for exactly one; the loser sees
  *    [[ConcurrentCommit]]. Every retrying operation runs its attempt
  *    through ONE loop, [[rebasing]], which re-runs it (at most
  *    [[CommitAttempts]] times) on exactly two kinds of race:
  *    [[headMoved]] — a lost link, or a file a racing expire/vacuum
  *    removed mid-attempt; the attempt re-reads the new head and
  *    retries on top of it — and [[layoutMoved]] — a rescale changed
  *    the partition count under staged dirs; the caller restages.
  *    The single-attempt form, [[commitPartitionsOnce]], surfaces
  *    the race instead.
  *  - '''Time travel.''' [[readAt]] opens any retained version.
  *
  * On an object store without atomic metadata ops this manifest game
  * moves into a coordinating catalog service (which is precisely what
  * an Iceberg/Delta catalog is); the layout and guarantees carry over
  * unchanged — only the CREATE_NEW primitive is provided differently.
  */
object VersionedTable {

  final class ConcurrentCommit(v: Int) extends RuntimeException(
    s"version $v was committed concurrently; re-read and retry")

  /** Thrown when a partition-scoped commit supplies an `nParts` that
    * disagrees with the count stamped on the table's head manifest —
    * a rescale landed between the writer's layout read and its
    * commit, so its staged dirs were HASHED UNDER THE WRONG COUNT.
    * Retrying the commit cannot succeed (the staged labels are wrong,
    * not the version number), so [[headMoved]] does not match it: it
    * is the [[layoutMoved]] race, and the writer re-reads the count
    * and restages inside `rebasing(layoutMoved)` (the staging loops
    * of [[graft.streaming.PartitionedMerge]] and
    * [[graft.streaming.TableFollower]]). Without this guard the
    * stale-count dirs would merge into the rescaled map and their
    * keys would silently stop being replaced by later merges. */
  final class PartitionCountChanged(val stamped: Int, val supplied: Int)
    extends RuntimeException(
      s"table partition count is $stamped but the staged dirs were " +
        s"hashed under $supplied — a rescale raced this commit; " +
        "re-read partCount() and restage")

  /** Attempts every retrying operation gets unless a caller passes
    * its own bound. */
  private[graft] val CommitAttempts = 5

  /** A file of the attempt's base vanished under it: a racing
    * expire/vacuum deleted a manifest or data file between the head
    * listing and the read. Directory walks (`Files.walk`) raise the
    * same race wrapped in an `UncheckedIOException`. */
  private def vanished(e: Throwable): Boolean = e match {
    case _: java.nio.file.NoSuchFileException => true
    case u: java.io.UncheckedIOException =>
      u.getCause.isInstanceOf[java.nio.file.NoSuchFileException]
    case _ => false
  }

  /** Race kind 1, HEAD MOVED: another commit took v(N+1), or a file
    * the attempt read vanished. Re-running the attempt at the new
    * head can succeed. */
  private[graft] def headMoved(e: Throwable): Boolean =
    e.isInstanceOf[ConcurrentCommit] || vanished(e)

  /** Race kind 2, LAYOUT MOVED: see [[PartitionCountChanged]]. Only
    * an attempt that restages can succeed. */
  private[graft] def layoutMoved(e: Throwable): Boolean =
    e.isInstanceOf[PartitionCountChanged]

  /** THE optimistic-commit loop: run `attempt`, re-running it while it
    * throws a `race` and fewer than `maxAttempts` calls were made;
    * the last race is rethrown. Only exceptions `race` names are
    * caught — every other error, and a non-local `return` out of
    * `attempt`, passes straight through. */
  private[graft] def rebasing[T](race: Throwable => Boolean,
      maxAttempts: Int = CommitAttempts)(attempt: => T): T =
    try attempt
    catch {
      case e: Exception if maxAttempts > 1 && race(e) =>
        rebasing(race, maxAttempts - 1)(attempt)
    }

  /** How long a writer's intent holds maintenance off (see
    * [[asWriter]]); an older marker is a crashed writer's and is
    * ignored. */
  private val WriterIntentTtlMs = 30000L

  private def intentsDir(root: String): Path = Paths.get(root, "_intents")

  /** Markers this thread holds, so a writer's own maintenance call
    * (e.g. from a merge's commit seam) never waits on itself. */
  private val ownIntents = ThreadLocal.withInitial[Set[Path]](() => Set.empty)

  /** Run a writer's stage → commit attempts under an intent marker in
    * `<root>/_intents`. A rescale ([[rescalePartitions]]) does not
    * START an attempt while another writer's marker is live, so once
    * a rescale lands inside a writer's window, the writer's restage
    * cannot lose to the next one: the writer restages at most once
    * per rescale that was already running, instead of starving when
    * rescales run back to back. */
  private[graft] def asWriter[T](root: String)(body: => T): T = {
    Files.createDirectories(intentsDir(root))
    val marker = Files.createFile(intentsDir(root).resolve(UUID.randomUUID().toString))
    ownIntents.set(ownIntents.get + marker)
    try body
    finally {
      ownIntents.set(ownIntents.get - marker)
      Files.deleteIfExists(marker)
    }
  }

  /** Test seam: the hook of a root runs once per [[awaitWriters]]
    * call that finds another writer's intent live, before it waits,
    * so specs order maintenance against a writer without sleeping. */
  private[graft] val onWriterWait =
    scala.collection.concurrent.TrieMap.empty[String, () => Unit]

  /** Wait, at most [[WriterIntentTtlMs]], while another writer's
    * intent under `root` is live; expired markers are removed. */
  private def awaitWriters(root: String): Unit = {
    val dir = intentsDir(root)
    val deadline = System.currentTimeMillis() + WriterIntentTtlMs
    def live(): Boolean = Files.isDirectory(dir) && {
      val ls = Files.list(dir)
      val markers = try ls.iterator.asScala.toSeq finally ls.close()
      markers.filterNot(ownIntents.get.contains).exists { m =>
        try {
          val age = System.currentTimeMillis() - Files.getLastModifiedTime(m).toMillis
          age < WriterIntentTtlMs || { Files.deleteIfExists(m); false }
        } catch { case _: java.nio.file.NoSuchFileException => false }
      }
    }
    if (live()) {
      onWriterWait.get(root).foreach(_())
      while (live() && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
  }

  private def versionsDir(root: String): Path = Paths.get(root, "_versions")

  private def versionFile(root: String, v: Int): Path =
    versionsDir(root).resolve(f"v$v%08d.json")

  /** Committed versions, ascending (empty for a nonexistent table).
    * The listing stream is CLOSED eagerly — this runs several times
    * per micro-batch commit on a long-lived driver, and a GC-reclaimed
    * DirectoryStream leaks a file descriptor per call until the
    * process hits its ulimit. */
  def versions(root: String): Seq[Int] = {
    val dir = versionsDir(root)
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator.asScala
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.json") =>
        n.substring(1, 9).toInt }
      .toSeq.sorted
    finally s.close()
  }

  /** A manifest's label content. Its `parts` and `pstats` are parsed
    * on first use, so a scalar read of a 100k-label manifest (a txn
    * scan, the partition count, the incarnation id) never builds the
    * label map. */
  private[sources] final class Content(parts0: => Map[String, Seq[String]],
      pstats0: => Option[Map[String, (Long, Int)]]) {
    lazy val parts: Map[String, Seq[String]] = parts0
    lazy val pstats: Option[Map[String, (Long, Int)]] = pstats0
  }

  private[sources] object Content {
    def apply(parts: Map[String, Seq[String]],
        pstats: Map[String, (Long, Int)]): Content =
      new Content(parts, Some(pstats))
  }

  /** The key a merge-on-read table resolves under: the newest row per
    * `pk` under the lexicographic `seqCols` order wins. Stamped by
    * [[graft.streaming.PartitionedMerge]] on every commit it makes. */
  final case class TableKey(pk: String, seqCols: Seq[String])

  /** One merge-on-read log: a write-once `data/<uuid>` dir holding one
    * parquet file of a micro-batch's newest row per key (tombstones
    * included), and its bytes, which the fold rule sums. */
  final case class LogFile(dir: String, bytes: Long)

  /** THE manifest record: the only code that knows the on-disk
    * format. Every manifest read is [[Manifest.parse]] (through
    * [[manifestAt]]), every write is [[render]] (through [[publish]]),
    * and `render(parse(txt)) == txt` byte for byte. Fields appear on
    * disk in the order below; an absent `Option` writes no key, which
    * is how pre-stamp history reads back unchanged.
    *
    * {{{
    * field       written by                           carried to the next commit
    * ----------  -----------------------------------  --------------------------
    * version     every commit (its own number)        -
    * op          every commit: merge_parts,           -
    *             delta_parts, append_log,
    *             overwrite_parts, restore
    * mver        every commit (3 with logs, else 2)   -
    * ts          every commit (epoch millis)          clamped above head's ts
    * txn         commitPartitions                     -
    * schema      evolving writers, compaction,        -
    *             rescale, restore (toV's), an
    *             erasure that empties the table
    * tableid     the first commit mints it            every commit
    * followsrc   TableFollower                        every commit
    * wkind       every commit (writer kind)           -
    * kinds       every commit (head's set + wkind)    every commit
    * key         PartitionedMerge (pk, then seqCols)  every commit
    * logs        log appends (one file each)          incremental commits, less
    *                                                  the logs a fold or
    *                                                  compaction folded
    * base        delta commits (parent version)       -
    * chain       delta commits (depth below the root) -
    * drops       delta commits (labels removed)       -
    * nparts      staging writers, rescale, restore    merge_parts, delta_parts,
    *             (toV's)                              append_log
    * pstats      every commit                         resolved through the chain
    * parts       every commit                         resolved through the chain
    * }}}
    * `pstats` and `parts` are the label body: a full manifest lists
    * every live label, a delta (`base`) only the labels it touched.
    * `logs` is the table-level merge-on-read list ([[LogFile]]),
    * carried whole by every manifest (never through the delta chain)
    * and bounded by the fold rule of
    * [[graft.streaming.PartitionedMerge]]. A manifest with neither a
    * label body nor a `base` is a flat table an older build wrote;
    * [[manifestAt]] refuses it. The carry rules live in [[successor]]. */
  private[sources] final case class Manifest(version: Int, op: String,
      mver: Option[Int], ts: Option[Long], txn: Option[Long],
      schema: Option[String], tableId: Option[String],
      followSrc: Option[String], wkind: Option[String],
      kinds: Option[Set[String]], key: Option[TableKey],
      logs: Seq[LogFile], base: Option[Int], chain: Int,
      drops: Set[String], nParts: Option[Int], content: Content) {

    def parts: Map[String, Seq[String]] = content.parts
    def pstats: Map[String, (Long, Int)] = content.pstats.getOrElse(Map.empty)

    /** The CUMULATIVE writer-kind set this manifest carries (every
      * kind that ever committed in this incarnation, expiry-proof). A
      * manifest from before the carry contributes its own stamped kind
      * plus [[KindUnstamped]] — the history before it is unknowable,
      * so the txn-shape fallback stays in force for such tables. */
    def carriedKinds: Set[String] =
      kinds.getOrElse(Set(wkind.getOrElse(KindUnstamped), KindUnstamped))

    def render: String = {
      def q(s: String) = "\"" + s + "\""
      def byLabel[V](m: Map[String, V]) = m.toSeq.sortBy(_._1.toInt)
      val b = new StringBuilder(s"""{"version":$version,"op":"$op",""")
      mver.foreach(x => b ++= s""""mver":$x,""")
      ts.foreach(x => b ++= s""""ts":$x,""")
      txn.foreach(x => b ++= s""""txn":$x,""")
      schema.foreach(d => b ++= s""""schema":${q(Manifest.jsonEsc(d))},""")
      tableId.foreach(x => b ++= s""""tableid":${q(x)},""")
      followSrc.foreach(x => b ++= s""""followsrc":${q(x)},""")
      wkind.foreach(x => b ++= s""""wkind":${q(x)},""")
      kinds.foreach(k => b ++= s""""kinds":${q(k.toSeq.sorted.mkString(","))},""")
      key.foreach(k => b ++= (k.pk +: k.seqCols).map(c => q(Manifest.jsonEsc(c)))
        .mkString("\"key\":[", ",", "],"))
      if (logs.nonEmpty)
        b ++= logs.map(l => "[" + q(l.dir) + "," + l.bytes + "]")
          .mkString("\"logs\":[", ",", "],")
      base.foreach { x =>
        b ++= s""""base":$x,"chain":$chain,"""
        if (drops.nonEmpty)
          b ++= drops.toSeq.sortBy(_.toInt).map(q).mkString("\"drops\":[", ",", "],")
      }
      nParts.foreach(n => b ++= s""""nparts":$n,""")
      content.pstats.foreach(m => b ++= byLabel(m).map {
        case (k, (by, f)) => q(k) + ":[" + by + "," + f + "]"
      }.mkString("\"pstats\":{", ",", "},"))
      b ++= byLabel(parts).map { case (k, ds) =>
        q(k) + ":" + ds.map(q).mkString("[", ",", "]")
      }.mkString("\"parts\":{", ",", "}}")
      b.result()
    }
  }

  private[sources] object Manifest {

    private def jsonEsc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")

    private def jsonUnesc(s: String): String =
      s.replace("\\\"", "\"").replace("\\\\", "\\")

    private val JsonStr = "\"((?:[^\"\\\\]|\\\\.)*)\""

    /** Where the label body (`pstats`, else `parts`) starts in `txt`;
      * -1 when it has none. Every current writer stamps `pstats`, so
      * this finds the body right after the header. */
    def bodyAt(txt: String): Int = {
      val pstatsAt = txt.indexOf("\"pstats\":{")
      if (pstatsAt >= 0) pstatsAt else txt.indexOf("\"parts\":{")
    }

    def parse(txt: String): Manifest = {
      // every scalar key precedes the label body, so scalar fields are
      // searched in the header only: a key a manifest lacks costs a
      // header scan, not a scan of a multi-MB label map
      val partsAt = bodyAt(txt)
      val hasPstats = partsAt >= 0 && txt.startsWith("\"pstats\":{", partsAt)
      val header = txt.substring(0, if (partsAt >= 0) partsAt else txt.length)
      def field(key: String, value: String): Option[String] =
        ("\"" + key + "\":" + value).r.findFirstMatchIn(header).map(_.group(1))
      val num = "(\\d+)"
      val word = "\"([0-9a-zA-Z-]+)\""
      Manifest(
        version = field("version", num).fold(0)(_.toInt),
        op = field("op", "\"([a-z_]+)\"").getOrElse(""),
        mver = field("mver", num).map(_.toInt),
        ts = field("ts", num).map(_.toLong),
        txn = field("txn", num).map(_.toLong),
        schema = field("schema", JsonStr).map(jsonUnesc),
        tableId = field("tableid", word),
        followSrc = field("followsrc", word),
        wkind = field("wkind", word),
        kinds = field("kinds", "\"([0-9a-zA-Z,-]+)\"").map(_.split(",").toSet),
        key = field("key", s"\\[((?:$JsonStr,?)+)\\]").map { body =>
          val cs = JsonStr.r.findAllMatchIn(body).map(m => jsonUnesc(m.group(1))).toSeq
          TableKey(cs.head, cs.tail)
        },
        logs = field("logs", "\\[((?:\\[\"data/[0-9a-f-]+\",\\d+\\],?)*)\\]").fold(Seq.empty[LogFile])(
          body => "\\[\"(data/[0-9a-f-]+)\",(\\d+)\\]".r.findAllMatchIn(body)
            .map(m => LogFile(m.group(1), m.group(2).toLong)).toSeq),
        base = field("base", num).map(_.toInt),
        chain = field("chain", num).fold(0)(_.toInt),
        drops = field("drops", "\\[([^\\]]*)\\]").fold(Set.empty[String])(b =>
          "\"(\\d+)\"".r.findAllMatchIn(b).map(_.group(1)).toSet),
        nParts = field("nparts", num).map(_.toInt),
        content = new Content(
          "\"parts\":\\{(.*?)\\}".r.findFirstMatchIn(txt).map(_.group(1)) match {
            case None => Map.empty
            case Some(body) =>
              "\"(\\d+)\":\\[([^\\]]*)\\]".r.findAllMatchIn(body).map { m =>
                m.group(1) -> "\"([^\"]+)\"".r.findAllMatchIn(m.group(2))
                  .map(_.group(1)).toSeq
              }.toMap
          },
          if (!hasPstats) None
          else "\"pstats\":\\{(.*?)\\}".r.findFirstMatchIn(txt).map(_.group(1))
            .map(body => "\"(\\d+)\":\\[(\\d+),(\\d+)\\]".r.findAllMatchIn(body)
              .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toInt)))
              .toMap)))
    }
  }

  /** Manifest FORMAT version: the newest this build reads (Delta's
    * minReaderVersion rule). 2 = delta chains + provenance stamps;
    * 3 = merge-on-read `logs`. A manifest declares the lowest version
    * that reads it right: 3 only while it carries logs (a version-2
    * reader would serve the base without the logs' newer rows), 2
    * otherwise. A reader opening a manifest that declares a HIGHER
    * version throws instead of silently misreading semantics it
    * doesn't know (a pre-chain reader would have served a 32-label
    * delta as the whole table); manifests with no `mver` are
    * version-1 history, always readable. */
  val ManifestVersion = 3

  /** The format a manifest without logs declares (see
    * [[ManifestVersion]]). */
  private val BaseManifestVersion = 2

  /** THE manifest reader: version `v` of `root` (its condemned copy
    * when `condemned`, see [[expire]]), refused when it declares a
    * format newer than [[ManifestVersion]], or when it is a flat table
    * an older build wrote (neither a label body nor a `base`): read as
    * a keyed manifest it would be an empty table. `anyFormat` lifts
    * both refusals for the readers documented to tolerate other
    * formats ([[history]], [[commitTime]]), which read only stamps
    * every format carries. */
  private def manifestAt(root: String, v: Int, condemned: Boolean = false,
      anyFormat: Boolean = false): Manifest = {
    val txt = Files.readString(
      if (condemned) condemnFile(root, v) else versionFile(root, v))
    val m = Manifest.parse(txt)
    if (!anyFormat) {
      for (mv <- m.mver if mv > ManifestVersion)
        throw new IllegalStateException(
          s"$root v$v declares manifest format $mv, newer than " +
            s"this reader's $ManifestVersion — upgrade before reading")
      if (m.base.isEmpty && Manifest.bodyAt(txt) < 0)
        throw new IllegalStateException(
          s"$root v$v is a flat (unkeyed) manifest written by an older " +
            "build — this reader reads keyed tables only; reload its rows " +
            "into a keyed table")
    }
    m
  }

  /** The latest manifest of `root`, None for a nonexistent table. */
  private def headManifest(root: String): Option[Manifest] =
    versions(root).lastOption.map(manifestAt(root, _))

  /** Data dirs (relative to root) live in version `v`'s manifest `m`:
    * its labels resolved through the chain, and its logs. */
  private def liveDirs(root: String, v: Int, m: Manifest): Seq[String] =
    (resolved(root, v, m)._1.values.flatten ++ m.logs.map(_.dir)).toSeq.distinct

  /** Apply one delta manifest's parts on top of a resolved base —
    * THE delta-application semantic, shared by [[resolved]] and
    * vacuum's live walk so the two can never drift (a divergence
    * here makes vacuum compute a wrong live set, and a too-small
    * live set deletes live data). */
  private def applyDelta(base: Map[String, Seq[String]],
      m: Manifest): Map[String, Seq[String]] =
    (base -- m.drops) ++ m.parts

  /** DELTA manifests (r14, the Delta-log shape): an incremental
    * partitioned commit writes ONLY its touched labels + dropped
    * labels + a `base` pointer at the previous version, instead of
    * re-serializing every label's dir list — the measured
    * O(P)-per-commit manifest constant (865 ms / 7.8 MB rewritten per
    * 32-label merge at P=100k) becomes O(touched). Every
    * [[deltaCheckpointEvery]] commits (and on every overwriteAll —
    * rescale, follower bootstrap) a FULL manifest checkpoints the
    * chain, bounding resolution depth and retention coupling exactly
    * like Delta's log checkpoints. Chains are contiguous by
    * construction (`base = expected`, commits link at expected + 1),
    * so [[expire]] keeps every retained version's ancestry by flooring
    * at the first retained version's chain root. */
  private val deltaCheckpointEvery = 16

  /** The last resolution of one root: version `v`'s full (parts,
    * pstats), keyed by (version, tableid). */
  private final case class Resolution(version: Int, tableId: String,
      parts: Map[String, Seq[String]], pstats: Map[String, (Long, Int)])

  /** THE per-root memo. Manifests are immutable and versions
    * append-only, so:
    *  - `scanned`/`txns`/`kinds`: each [[committedTxns]] or
    *    [[committedKinds]] call reads only manifests NEWER than the
    *    last scan — O(1) amortized instead of re-reading every
    *    retained manifest per micro-batch (O(versions)/batch =
    *    quadratic cumulative I/O over a stream's life). A manifest
    *    expired between listing and read is skipped: its txns and
    *    kinds stay remembered from the earlier scan (the conservative,
    *    skip-the-duplicate direction), and its kinds also ride every
    *    later manifest's carry.
    *  - `resolution`: a commit resolving `head` applies one delta on
    *    top of the cached `head - 1` — O(touched). A recreated root's
    *    overlapping version numbers can't poison it because the
    *    incarnation id must match too. Hits never re-read expired
    *    ancestor files (cold readers — fresh JVMs — walk the
    *    ≤checkpoint-interval chain instead). */
  private final case class RootMemo(scanned: Int, txns: Set[Long],
      kinds: Set[String], resolution: Option[Resolution])

  private val NoMemo = RootMemo(0, Set.empty, Set.empty, None)

  private val memos =
    scala.collection.concurrent.TrieMap.empty[String, RootMemo]

  /** Drop the memo for `root` — for callers that delete/recreate a
    * table root through a path this object cannot observe. */
  def invalidateTxns(root: String): Unit = { memos.remove(root); () }

  /** The memo with every manifest up to the head scanned. History-reset
    * guard (ADVICE r11): the memo assumes versions only ever GROW
    * under a root. A deleted-and-recreated root (an expire() below the
    * scanned watermark is fine — expire keeps the max) restarts its
    * version numbering, and a stale txn set would make commitPartitions
    * silently DROP fresh batches whose ids collide with the old
    * incarnation's. If the listing is empty or its max is below the
    * scanned watermark, the history was reset: drop the memo and
    * rescan from scratch. */
  private def scanned(root: String): RootMemo = {
    val vs = versions(root)
    val known = memos.get(root) match {
      case Some(m) if vs.isEmpty || vs.max < m.scanned =>
        memos.remove(root); NoMemo
      case Some(m) => m
      case None => NoMemo
    }
    val newer = vs.filter(_ > known.scanned)
    if (newer.isEmpty) known
    else {
      val read = newer.flatMap { v =>
        try Some(manifestAt(root, v))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      val next = known.copy(scanned = newer.max,
        txns = known.txns ++ read.flatMap(_.txn),
        kinds = known.kinds ++ read.flatMap(_.carriedKinds))
      memos.updateWith(root)(cur =>
        Some(next.copy(resolution = cur.flatMap(_.resolution))))
      next
    }
  }

  /** Resolve version `v`'s full (parts, pstats) from its manifest `m`
    * through its delta chain, memoizing the newest resolution. */
  private def resolved(root: String, v: Int, m: Manifest)
      : (Map[String, Seq[String]], Map[String, (Long, Int)]) = {
    val id = m.tableId.getOrElse("")
    val out = m.base match {
      case None => (m.parts, m.pstats)
      case Some(b) =>
        val (pParts, pStats) = memos.get(root).flatMap(_.resolution) match {
          case Some(r) if r.version == b && r.tableId == id => (r.parts, r.pstats)
          case _ => resolved(root, b, manifestAt(root, b))
        }
        (applyDelta(pParts, m), (pStats -- m.drops) ++ m.pstats)
    }
    // keep the newest resolution only — resolving an old version for
    // a change-feed read must not regress the head commit's memo
    memos.updateWith(root) { cur =>
      val known = cur.getOrElse(NoMemo)
      if (known.resolution.exists(r => r.version > v && r.tableId == id)) cur
      else Some(known.copy(resolution = Some(Resolution(v, id, out._1, out._2))))
    }
    out
  }

  /** Partition map of the LATEST version, resolved through the delta
    * chain (empty for a nonexistent table). */
  def parts(root: String): Map[String, Seq[String]] =
    versions(root).lastOption
      .map(v => resolved(root, v, manifestAt(root, v))._1).getOrElse(Map.empty)

  /** The reserved internal partition-column name writers attach while
    * staging. NOT a legal data column: a source row carrying it would
    * be silently clobbered by the key-hash. */
  val PidCol = "__graft_pid"

  /** Writer-provenance kinds stamped per commit (`wkind` in the
    * manifest). A followed destination admits [[KindFollower]] and
    * [[KindMaintenance]] commits only — any [[KindBatch]] commit
    * there is a foreign writer, loud regardless of its txn id. */
  val KindBatch = "batch"
  val KindMaintenance = "maintenance"
  val KindFollower = "follower"
  /** Sentinel [[committedKinds]] reports for manifests written before
    * the provenance stamp existed (pre-r14 history). */
  val KindUnstamped = "unstamped"

  /** The key-hash partition COUNT recorded by the latest manifest —
    * table state, not process config: a writer/follower must hash
    * with the count the table was laid out under, or a restart with
    * a different configured count silently splits keys across
    * partitions (stale rows stop being replaced). None for manifests
    * that predate the stamp. */
  def partCount(root: String): Option[Int] =
    headManifest(root).flatMap(_.nParts)

  /** The canonical key→partition assignment every partitioned writer
    * uses — ONE definition so a merge, a follower, and a rescale all
    * hash identically (two hash functions over the same table would
    * split a key across partitions and stale rows would stop being
    * replaced). */
  def keyPid(pk: String, p: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    pmod(hash(col(pk)), lit(p))
  }

  /** The distinct partition ids `df`'s `pidCol` holds, from ONE
    * narrow job: each task reduces its rows to their pid set and the
    * driver unions the sets. `distinct().collect()` would pay a
    * shuffle-map job plus a result job for the same answer; the
    * result is bounded by the partition count either way. */
  def touchedPids(df: DataFrame, pidCol: String = PidCol): Set[Int] = {
    import df.sparkSession.implicits._
    df.select(pidCol).as[Int]
      .mapPartitions(pids => Iterator.single(pids.toArray.distinct))
      .collect().iterator.flatten.toSet
  }

  /** The table's incarnation identity: a UUID minted by the first
    * commit under a root and carried by every manifest after it. A
    * deleted-and-recreated root mints a NEW id, which is how a
    * consumer holding state about the table (a [[graft.streaming
    * .TableFollower]] cursor) detects that its state describes a
    * different table than the one now living at the path (ADVICE
    * r12). None only for manifests that predate the stamp. */
  def tableId(root: String): Option[String] =
    headManifest(root).flatMap(_.tableId)

  /** Latest stamped per-partition stats (label → (bytes, files)),
    * resolved through the delta chain; empty for manifests predating
    * the stamp. These are what let the maintenance triggers run on
    * O(P) manifest metadata instead of stat-walking every live data
    * file. */
  def partStats(root: String): Map[String, (Long, Int)] =
    versions(root).lastOption.map { v =>
      val m = manifestAt(root, v)
      val stats = resolved(root, v, m)._2
      if (m.logs.isEmpty) stats
      else stats + (LogsLabel -> ((m.logs.map(_.bytes).sum, m.logs.size)))
    }.getOrElse(Map.empty)

  /** The [[partStats]] entry of a merge-on-read table's logs (bytes,
    * files): they belong to no partition label, and a label map
    * holds only numeric labels, so the name cannot collide. */
  val LogsLabel = "logs"

  /** (bytes, parquet files) physically under one relative dir. The
    * bytes of a staged dir are the byte-accounting measure for
    * [[graft.streaming.EgressMeter]] (etl_processed_bytes' billing
    * analog): what a commit attempt physically wrote, including
    * attempts later orphaned by a lost commit race (bytes moved are
    * bytes moved; vacuum reclaims the files, not the bill). */
  private def dirStats(root: String, rel: String): (Long, Int) = {
    val w = Files.walk(Paths.get(root, rel))
    try {
      var b = 0L; var n = 0
      w.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
        b += Files.size(f)
        if (f.getFileName.toString.endsWith(".parquet")) n += 1
      }
      (b, n)
    } finally w.close()
  }

  private def sumStats(a: (Long, Int), b: (Long, Int)): (Long, Int) =
    (a._1 + b._1, a._2 + b._2)

  /** The upstream-table identity recorded by a follower's commits to
    * this (destination) root — carried forward by every later commit,
    * so compaction on a replica doesn't amnesia its provenance. None
    * for tables never written by a follower. */
  def followSrc(root: String): Option[String] =
    headManifest(root).flatMap(_.followSrc)

  /** Table schema carried by version `v`'s manifest (evolving tables
    * only — see [[commitPartitions]]' schemaDdl): the read schema that
    * makes files written BEFORE a widen serve the added columns as
    * NULLs. None for manifests that never stored one. */
  def manifestSchema(spark: SparkSession, root: String, v: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOf(manifestAt(root, v))

  private def schemaOf(m: Manifest): Option[org.apache.spark.sql.types.StructType] =
    m.schema.map(org.apache.spark.sql.types.StructType.fromDDL)

  /** The manifest a commit publishes at `next` on top of the head
    * manifest `head` (None for a table's first commit). The CARRY
    * RULES live here and nowhere else:
    *  - `ts`: commit wall-clock (epoch millis), what timestamp time
    *    travel resolves against, clamped STRICTLY ABOVE the head's
    *    stamp (Delta's in-commit-timestamp rule is prev+1, ADVICE
    *    r15/r16): an NTP step-back or cross-host clock skew on a
    *    shared filesystem must not let versionAsOf resolve an
    *    older-numbered but later-stamped version, and equal stamps
    *    would make timestampAsOf/history ordering ambiguous;
    *  - `tableid`: INCARNATION state, minted once per root lifetime
    *    and carried by every later commit (a truncate-load is still
    *    the same table; only deleting the root retires the id);
    *  - `followsrc`: follower provenance, carried so maintenance
    *    commits on a replica don't erase it;
    *  - `kinds`: the incarnation's CUMULATIVE writer-kind set: retention
    *    can expire the manifest a foreign writer committed, but the
    *    kind it contributed rides every later commit, so a cold
    *    reader's foreign-writer check survives expiry. At the FORMAT
    *    BOUNDARY (a head written before the carry existed) the full
    *    retained-history scan is folded in ONCE — without it a
    *    pre-carry foreign commit older than the head would vanish from
    *    the carry;
    *  - `nparts`: the partition count is table state, carried by the
    *    incremental commits (merge_parts, delta_parts, append_log)
    *    that don't supply one; a commit that defines the whole layout
    *    (overwrite_parts, restore) stamps only its own;
    *  - `key`: the merge-on-read key is table state, carried by every
    *    commit that does not stamp its own;
    *  - `logs` is NOT carried here: each commit states its list
    *    ([[commitPartitionsOnce]], [[restore]]). */
  private def successor(root: String, head: Option[Manifest], next: Int,
      op: String, content: Content, writerKind: String = KindBatch,
      txn: Option[Long] = None, schemaDdl: Option[String] = None,
      nParts: Option[Int] = None, followSrc: Option[String] = None,
      base: Option[Int] = None, chain: Int = 0,
      drops: Set[String] = Set.empty, key: Option[TableKey] = None,
      logs: Seq[LogFile] = Nil): Manifest = {
    val carriedKinds =
      head.fold(Set.empty[String])(_.kinds.getOrElse(committedKinds(root)))
    val layoutCarries =
      op == "merge_parts" || op == "delta_parts" || op == "append_log"
    Manifest(next, op,
      mver = Some(if (logs.nonEmpty) ManifestVersion else BaseManifestVersion),
      ts = Some(math.max(System.currentTimeMillis(),
        head.flatMap(_.ts).fold(0L)(_ + 1))),
      txn = txn, schema = schemaDdl,
      tableId = Some(head.flatMap(_.tableId)
        .getOrElse(UUID.randomUUID().toString)),
      followSrc = followSrc.orElse(head.flatMap(_.followSrc)),
      wkind = Some(writerKind), kinds = Some(carriedKinds + writerKind),
      key = key.orElse(head.flatMap(_.key)),
      logs = logs, base = base, chain = chain, drops = drops,
      nParts = nParts.orElse(
        if (layoutCarries) head.flatMap(_.nParts) else None),
      content = content)
  }

  /** Transaction ids already committed (streaming sink bookkeeping). */
  def committedTxns(root: String): Set[Long] = scanned(root).txns

  /** EVERY writer kind that ever committed under this root's current
    * incarnation — what a follower scans to refuse a foreign writer
    * on its destination ([[KindUnstamped]] marks history whose
    * provenance only the txn-shape heuristic can guess at). Each
    * manifest's CARRIED cumulative `kinds` set is what makes the
    * answer EXPIRY-PROOF: retention can drop the manifest a foreign
    * writer committed before any cold reader scans it, but the kind
    * it contributed rides every later commit, so a fresh JVM still
    * sees it. */
  def committedKinds(root: String): Set[String] = scanned(root).kinds

  /** Tasks a staged partitioned write spreads over: the session's
    * parallelism. A `repartition(col)` without a count lets AQE
    * coalesce a small frame's shuffle into ONE task that writes every
    * `pid=` dir serially; a count pins the shuffle (AQE never
    * coalesces a repartition by number), and a producer that already
    * hash-partitions on the pid with this same count (the merge
    * aggregation) satisfies it, so no second exchange is planned. */
  private[graft] def stageTasks(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Stage `df` partitioned by integer column `partCol` — ONE Spark
    * job for however many partitions the frame touches (each becomes
    * a `pid=<k>` subdir of one fresh uuid dir, and each subdir is an
    * independent commit unit for [[commitPartitions]]). The frame is
    * hash-repartitioned on `partCol` into [[stageTasks]] tasks first,
    * so a partition's rows co-locate into one task → one file per
    * touched partition, and the partitions are written in parallel.
    * Returns partition label → relative dir, only for partitions the
    * frame actually touched. */
  private[graft] def stagePartitioned(df: DataFrame, root: String,
      partCol: String): Map[String, String] = {
    import org.apache.spark.sql.functions.col
    val rel = s"data/${UUID.randomUUID()}"
    val out = Paths.get(root, rel)
    df.repartition(stageTasks(df.sparkSession), col(partCol))
      .write.partitionBy(partCol).parquet(out.toString)
    val ls = Files.list(out)
    val subdirs =
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"$partCol=")).toSeq
      finally ls.close()
    subdirs.map { d =>
      // manifest labels use the canonical pid= layout regardless of
      // the caller's column name (the manifest parser's dir contract)
      val k = d.substring(partCol.length + 1)
      if (partCol != "pid") {
        Files.move(out.resolve(d), out.resolve(s"pid=$k"))
      }
      k -> s"$rel/pid=$k"
    }.toMap
  }

  /** Stage a one-partition frame as ONE merge-on-read log file under a
    * fresh write-once dir: one task, one file, no shuffle. None when
    * the frame had no rows (its footer says so; the dir is removed),
    * so an empty batch commits nothing. */
  private[graft] def stageLog(df: DataFrame, root: String): Option[LogFile] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rel = s"data/${UUID.randomUUID()}"
    val out = Paths.get(root, rel)
    df.write.parquet(out.toString)
    val ls = Files.list(out)
    val files = try ls.iterator.asScala.filter(_.getFileName.toString
      .endsWith(".parquet")).toSeq finally ls.close()
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val rows = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    if (rows > 0) Some(LogFile(rel, dirStats(root, rel)._1))
    else {
      val w = Files.walk(out)
      try w.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
      None
    }
  }

  /** Reads of a commit attempt's base (`next - 1` and its ancestry)
    * can race a retention expire() that deleted a file between the
    * caller's versions() listing and the read — a CONCURRENCY event,
    * not corruption. Both [[vanished]] shapes surface as the commit
    * race, so a single-attempt caller sees one exception for every
    * lost race. */
  private def raceGuard[T](next: Int)(body: => T): T =
    try body
    catch {
      case e: Exception if vanished(e) => throw new ConcurrentCommit(next)
    }

  /** Publish manifest `m` as version `m.version`: its text is staged
    * under a temp name, then the atomic hard link succeeds for exactly
    * one writer; the loser drops its manifest and sees
    * [[ConcurrentCommit]]. */
  private def publish(root: String, m: Manifest): Int = {
    val next = m.version
    val tmp = versionsDir(root).resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, m.render)
    try Files.createLink(versionFile(root, next), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.delete(tmp)
      throw new ConcurrentCommit(next)
    }
    Files.delete(tmp)
    next
  }

  /** Bytes under every dir of a staged partition map. */
  private def stagedPartBytes(root: String, parts: Map[String, String]): Long =
    parts.values.map(dirStats(root, _)._1).sum

  /** One optimistic PARTITION-SCOPED commit attempt at `expected + 1`:
    * the new manifest carries the previous version's partition map
    * with ONLY the staged labels replaced — untouched partitions keep
    * their existing dirs verbatim (never rewritten, never copied),
    * which is what turns the copy-on-write merge's O(table)/batch
    * write amplification into O(touched partitions). The manifest is
    * published by the atomic link ([[publish]]): a crash before it
    * leaves the staged dirs as orphans, a lost race throws
    * [[ConcurrentCommit]].
    * `overwriteAll = true` with a staged map covering the whole
    * keyspace replaces the table's content instead (a truncate-load,
    * a rescale).
    *
    * @param schemaDdl evolving tables store their CURRENT logical
    *   schema in every manifest so (a) readers serve pre-widen files
    *   with the added columns as NULLs and (b) a restarted writer
    *   reloads the evolved schema from the table itself.
    * @param addLog a merge-on-read log this commit appends to the
    *   head's `logs` (an `append_log` commit stages no labels)
    * @param foldLogs dirs of the head's logs this commit folded into
    *   its staged labels; they leave the list. Every other log rides
    *   an incremental commit; a full rewrite (`overwriteAll`) defines
    *   the whole content and carries none.
    * @param key the merge-on-read key to stamp (else carried) */
  def commitPartitionsOnce(stagedParts: Map[String, String], root: String,
      expected: Int, overwriteAll: Boolean = false,
      txn: Option[Long] = None, schemaDdl: Option[String] = None,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default",
      dropParts: Set[String] = Set.empty,
      nParts: Option[Int] = None,
      followSrc: Option[String] = None,
      writerKind: String = KindBatch,
      forceCheckpoint: Boolean = false,
      addLog: Option[LogFile] = None,
      foldLogs: Set[String] = Set.empty,
      key: Option[TableKey] = None): Int = {
    Files.createDirectories(versionsDir(root))
    val next = expected + 1
    // ONE read of the previous manifest: every carried field (count,
    // identity, provenance, chain depth) comes from this record, and
    // the parts/stats resolve through it — the old five separate
    // readString calls were the measured commit-path constant at
    // P=100k (SCALE_MANIFEST probe)
    val prev: Option[Manifest] =
      if (expected == 0) None
      else Some(raceGuard(next)(manifestAt(root, expected)))
    // layout guard: an incremental commit whose dirs were hashed under
    // a count the table no longer has must restage, not merge (see
    // PartitionCountChanged). A full rewrite (overwriteAll) DEFINES
    // the new layout — that's rescale itself — so it is exempt.
    if (!overwriteAll)
      for (m <- prev; stamped <- m.nParts; supplied <- nParts)
        if (stamped != supplied)
          throw new PartitionCountChanged(stamped, supplied)
    // delta or checkpoint? An incremental commit extends its parent's
    // chain unless the chain is due a full checkpoint; overwriteAll
    // and first commits are full by nature.
    // The DELTA path never resolves, walks, or re-serializes the
    // untouched labels — its cost is O(touched), which is the whole
    // point (the measured 865 ms / 7.8 MB per 32-label merge at
    // P=100k falls to the staged labels' constant).
    // forceCheckpoint: compaction commits always checkpoint (the
    // OPTIMIZE pass is exactly when retention wants the chain cut —
    // expire right after a compaction can then drop every replaced
    // version, Delta's checkpoint-then-clean shape)
    val parentChain = prev.fold(0)(_.chain)
    val asDelta = !overwriteAll && !forceCheckpoint && prev.isDefined &&
      parentChain + 1 < deltaCheckpointEvery
    // stamp per-partition stats: fresh walks ONLY over this commit's
    // staged dirs; untouched labels carry resolved stats forward
    // (labels whose history predates the stamp pay a one-time walk at
    // the next CHECKPOINT — deltas never walk untouched labels at all)
    val stagedStats: Map[String, (Long, Int)] =
      stagedParts.view.mapValues(dirStats(root, _)).toMap
    // dropParts: partitions whose merge result is EMPTY — a staged
    // write emits no dir for a row-less partition, so without an
    // explicit drop the previous dir would ride into the new manifest
    // and its (all-deleted) rows resurrect. Deltas record the drops;
    // full manifests (checkpoints) apply them.
    val (mergedParts, mergedStats) =
      if (asDelta) (stagedParts.view.mapValues(Seq(_)).toMap, stagedStats)
      else {
        val (prevParts, prevStats) =
          if (overwriteAll || prev.isEmpty)
            (Map.empty[String, Seq[String]], Map.empty[String, (Long, Int)])
          else raceGuard(next)(resolved(root, expected, prev.get))
        val parts = (prevParts -- dropParts) ++
          stagedParts.view.mapValues(Seq(_)).toMap
        val stats = (prevParts -- dropParts).map { case (k, ds) =>
          k -> prevStats.getOrElse(k,
            raceGuard(next)(
              ds.map(dirStats(root, _)).foldLeft((0L, 0))(sumStats)))
        } ++ stagedStats
        (parts, stats)
      }
    meter.foreach(_.add(pipeline, root,
      if (txn.isDefined) "streaming" else "table_copy",
      stagedPartBytes(root, stagedParts) + addLog.fold(0L)(_.bytes)))
    val logs =
      if (overwriteAll) Nil
      else prev.fold(Seq.empty[LogFile])(_.logs)
        .filterNot(l => foldLogs.contains(l.dir)) ++ addLog
    publish(root, raceGuard(next)(successor(root, prev, next,
      if (overwriteAll) "overwrite_parts"
      else if (addLog.isDefined) "append_log"
      else if (asDelta) "delta_parts" else "merge_parts",
      Content(mergedParts, mergedStats), writerKind, txn,
      schemaDdl, nParts, followSrc,
      base = if (asDelta) Some(expected) else None,
      chain = if (asDelta) parentChain + 1 else 0,
      drops = if (asDelta) dropParts else Set.empty,
      key = key, logs = logs)))
  }

  /** Exactly-once partition-scoped micro-batch merge: the Structured
    * Streaming foreachBatch sink form, a txn-guarded retry loop over
    * [[commitPartitionsOnce]]. The batch id rides the manifest as a
    * transaction id; a redelivered batch (a restart replays the last
    * batch not yet in the CHECKPOINT, which may already be in the
    * TABLE) is recognized and skipped, so at-least-once delivery from
    * the checkpoint becomes exactly-once in the table — the txn check
    * and the data publish are the same atomic manifest link. The
    * staged dirs are write-once, so a lost race retries with the SAME
    * staged data against the re-read partition map — no restaging,
    * and a duplicate batch id skips whole (its staged dirs become
    * vacuum debris, bytes already metered as moved). Returns None for
    * a skipped duplicate. */
  def commitPartitions(stagedParts: Map[String, String], root: String,
      batchId: Long, overwriteAll: Boolean = false,
      schemaDdl: Option[String] = None,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default",
      dropParts: Set[String] = Set.empty,
      nParts: Option[Int] = None,
      followSrc: Option[String] = None,
      writerKind: String = KindBatch,
      addLog: Option[LogFile] = None,
      foldLogs: Set[String] = Set.empty,
      key: Option[TableKey] = None): Option[Int] = {
    // meter ONCE, outside the retry loop: the staged dirs are written
    // exactly once by the caller — a retried commit relinks the same
    // bytes and must not bill them again
    meter.foreach(_.add(pipeline, root, "streaming",
      stagedPartBytes(root, stagedParts) + addLog.fold(0L)(_.bytes)))
    // only the head race retries here: the same staged dirs can land
    // on a new head, but not under a new layout — PartitionCountChanged
    // passes to the caller, which restages
    rebasing(headMoved) {
      if (committedTxns(root).contains(batchId)) None
      else Some(commitPartitionsOnce(stagedParts, root,
        versions(root).lastOption.getOrElse(0), overwriteAll,
        txn = Some(batchId), schemaDdl = schemaDdl, dropParts = dropParts,
        nParts = nParts, followSrc = followSrc, writerKind = writerKind,
        addLog = addLog, foldLogs = foldLogs, key = key))
    }
  }

  /** Latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, versions(root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))

  /** Time travel: the table exactly as of version `v`. A manifest
    * that carries a schema (evolving tables) is read UNDER it — data
    * dirs written before a widen then serve the later columns as
    * typed NULLs instead of the footer-sampled schema silently
    * dropping them. */
  def readAt(spark: SparkSession, root: String, v: Int): DataFrame = {
    val m = manifestAt(root, v)
    readResolved(spark, root, m,
      resolved(root, v, m)._1.values.flatten.toSeq.distinct, schemaOf(m))
  }

  /** The head state a merge needs, from one manifest read: the
    * partition map, the base's stamped bytes, the logs, the key and the
    * count. None for a nonexistent table. */
  private[graft] final case class Head(parts: Map[String, Seq[String]],
      baseBytes: Long, logs: Seq[LogFile], key: Option[TableKey],
      nParts: Option[Int])

  private[graft] def head(root: String): Option[Head] =
    versions(root).lastOption.map { v =>
      val m = manifestAt(root, v)
      val (pm, stats) = resolved(root, v, m)
      Head(pm, stats.valuesIterator.map(_._1).sum, m.logs, m.key, m.nParts)
    }

  /** Column a log row carries while it is resolved: its log's 1-based
    * position in the manifest's list. It breaks a `seqCols` tie after
    * the sequence itself: a later log wins, the base ranks 0. */
  private[graft] val LogCol = "__graft_log"

  private def reader(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType]) =
    schema.map(spark.read.schema(_)).getOrElse(spark.read)

  /** Every row of `logs`, tagged with its log's position ([[LogCol]]). */
  private[graft] def readLogRows(spark: SparkSession, root: String,
      logs: Seq[LogFile],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract, typedLit}
    val position = typedLit(logs.zipWithIndex
      .map { case (l, i) => l.dir.stripPrefix("data/") -> (i + 1) }.toMap)
    reader(spark, schema).parquet(logs.map(l => Paths.get(root, l.dir).toString): _*)
      .withColumn(LogCol, position(regexp_extract(
        col("_metadata.file_path"), "/data/([0-9a-f-]+)/", 1)))
  }

  /** THE merge-on-read resolution: the newest row per `key.pk` over
    * `base` (at most one row per key, the merge's invariant) and the
    * position-tagged `logs`, under the `seqCols` order; on a sequence
    * tie the log wins. The logs are bounded small (the fold rule), so
    * they are reduced to their newest row per key in ONE task
    * (`coalesce(1)` satisfies the aggregate's clustering, no
    * exchange) and BROADCAST against the base scan: the base is never
    * shuffled. One scan keeps each base row that no log row beats;
    * a second, pruned to the key and sequence columns, finds the log
    * rows a base row beats. */
  private def resolve(base: Option[DataFrame], logs: DataFrame,
      key: TableKey): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, max_by, struct}
    val cols = logs.columns.toSeq.filterNot(_ == LogCol)
    def seqOf(cs: Seq[String]) = struct(cs.map(col): _*)
    val newest = logs.coalesce(1).groupBy(col(key.pk))
      .agg(max_by(seqOf(cols), seqOf(key.seqCols :+ LogCol)).as("r"))
      .select(cols.map(c => col("r").getField(c).as(c)): _*)
    base match {
      case None => newest
      case Some(b) =>
        val (lk, ls, bk, bs) =
          ("__graft_log_key", "__graft_log_seq", "__graft_base_key", "__graft_base_seq")
        val logSeq = broadcast(newest.select(col(key.pk).as(lk),
          seqOf(key.seqCols).as(ls)))
        val baseWins = b.join(logSeq, col(key.pk) === col(lk), "left_outer")
          .filter(col(ls).isNull || seqOf(key.seqCols) > col(ls))
          .select(cols.map(col): _*)
        val baseSeq = b.select(col(key.pk).as(bk), seqOf(key.seqCols).as(bs))
          .join(logSeq, col(bk) === col(lk), "left_semi")
        val logWins = newest.join(broadcast(baseSeq), col(key.pk) === col(bk), "left_outer")
          .filter(col(bs).isNull || seqOf(key.seqCols) >= col(bs))
          .select(cols.map(col): _*)
        baseWins.unionByName(logWins)
    }
  }

  /** Base `dirs` of manifest `m` resolved against its logs (see
    * [[resolve]]); `logFilter` keeps only the log rows a caller's base
    * subset can hold. A manifest without logs reads as the plain scan
    * it always was: no extra job. */
  private def readResolved(spark: SparkSession, root: String, m: Manifest,
      dirs: Seq[String], schema: Option[org.apache.spark.sql.types.StructType],
      logFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    def base(st: Option[org.apache.spark.sql.types.StructType]) =
      reader(spark, st).parquet(dirs.map(rel => Paths.get(root, rel).toString): _*)
    if (m.logs.isEmpty) base(schema)
    else {
      val key = m.key.getOrElse(throw new IllegalStateException(
        s"$root v${m.version} carries logs but no key to resolve them under"))
      val logs = readLogRows(spark, root, m.logs, schema)
      // a table without a stamped schema reads its base under the
      // logs' footer schema: the writer's full column set, one
      // inference for both
      val st = schema.getOrElse(logs.drop(LogCol).schema)
      resolve(if (dirs.isEmpty) None else Some(base(Some(st))),
        logFilter.fold(logs)(logs.filter), key)
    }
  }

  /** The head's rows of partition `labels`, resolved against its logs,
    * under `schema` (the table's own when None); None when none of the
    * labels holds a base dir and the table has no logs. */
  private[graft] def readPartitions(spark: SparkSession, root: String,
      labels: Set[Int],
      schema: Option[org.apache.spark.sql.types.StructType]): Option[DataFrame] =
    versions(root).lastOption.flatMap { v =>
      val m = manifestAt(root, v)
      val pm = resolved(root, v, m)._1
      val dirs = labels.toSeq.sorted.flatMap(l => pm.getOrElse(l.toString, Nil))
      if (dirs.isEmpty && m.logs.isEmpty) None
      else Some(readResolved(spark, root, m, dirs, schema.orElse(schemaOf(m)),
        logPidFilter(m, labels)))
    }

  /** Keeps the log rows whose key hashes into `labels`. */
  private def logPidFilter(m: Manifest,
      labels: Set[Int]): Option[org.apache.spark.sql.Column] =
    for (k <- m.key; p <- m.nParts if m.logs.nonEmpty)
      yield keyPid(k.pk, p).isInCollection(labels.toSeq)

  /** The partition labels the keys of `m`'s logs hash into, from one
    * narrow job over the (bounded, small) logs; empty without logs. */
  private def logPids(spark: SparkSession, root: String, m: Manifest): Set[Int] =
    if (m.logs.isEmpty) Set.empty
    else {
      val k = m.key.getOrElse(throw new IllegalStateException(
        s"$root v${m.version} carries logs but no key"))
      val p = m.nParts.getOrElse(throw new IllegalStateException(
        s"$root v${m.version} carries logs but no partition count"))
      touchedPids(readLogRows(spark, root, m.logs, schemaOf(m))
        .select(keyPid(k.pk, p).as(PidCol)))
    }

  // ==== snapshot management: timestamps, tags, restore (r14) =======

  /** Wall-clock (epoch millis) version `v` was committed at — the
    * manifest's own stamp; pre-stamp history (r13 and earlier) falls
    * back to the manifest file's mtime, which the atomic-link publish
    * makes an honest commit time on a filesystem. */
  def commitTime(root: String, v: Int): Long =
    manifestAt(root, v, anyFormat = true).ts
      .getOrElse(Files.getLastModifiedTime(versionFile(root, v)).toMillis)

  /** TIMESTAMP time travel (Delta's `timestampAsOf`): the newest
    * retained version committed at or before `tsMillis`, or None when
    * the table's oldest retained commit is already newer. Commit
    * stamps are monotonic per root (see [[successor]]), so the answer
    * is well-defined. A manifest expired between the listing and its
    * read is skipped, like every other retention-racing reader here. */
  def versionAsOf(root: String, tsMillis: Long): Option[Int] =
    versions(root).filter { v =>
      try commitTime(root, v) <= tsMillis
      catch { case _: java.nio.file.NoSuchFileException => false }
    }.lastOption

  /** The table exactly as of wall-clock `tsMillis` — [[readAt]] of
    * [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readAt(spark, root, versionAsOf(root, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"$root has no retained version at or before $tsMillis")))

  /** One row of [[history]]: a retained commit's audit fields. */
  final case class CommitInfo(version: Int, ts: java.sql.Timestamp,
      op: String, writer: String, txn: Option[Long], nparts: Option[Int],
      labels: Int, drops: Int, is_delta: Boolean)

  /** The commit log as a DataFrame (Delta's `DESCRIBE HISTORY`
    * analog): one row per RETAINED version — commit time, operation,
    * writer-kind provenance, txn id, partition count, and how many
    * labels the commit itself serialized (deltas: touched; full
    * manifests: all) — the operator's first stop in any incident
    * ("who wrote v37 and when"). Control-plane: O(retained versions)
    * manifest reads on the driver, no data I/O. A manifest expired
    * between listing and read is skipped, like every other
    * retention-racing reader here. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = versions(root).flatMap { v =>
      try {
        val m = manifestAt(root, v, anyFormat = true)
        val ts = new java.sql.Timestamp(m.ts.getOrElse(
          Files.getLastModifiedTime(versionFile(root, v)).toMillis))
        // ADVICE r15: one newer-format manifest must not blank the
        // whole listing — history is the incident tool for exactly
        // the mixed-version-writer situation manifestAt refuses.
        // Surface the refused version as a row instead of throwing
        // (commitTime/versionAsOf already read such stamps fine).
        m.mver.filter(_ > ManifestVersion) match {
          case Some(mv) =>
            Some(CommitInfo(v, ts, s"unreadable:mver=$mv", KindUnstamped,
              None, None, 0, 0, is_delta = false))
          case None =>
            Some(CommitInfo(v, ts, m.op, m.wkind.getOrElse(KindUnstamped),
              m.txn, m.nParts, m.parts.size, m.drops.size, m.base.isDefined))
        }
      } catch { case _: java.nio.file.NoSuchFileException => None }
    }
    spark.createDataFrame(rows)
  }

  /** POINT LOOKUP: the rows of `pk = value`, reading ONLY the one
    * key-hash partition the value lives in — O(table/P) I/O, the
    * "serve this key" path that needs no external index because the
    * layout IS the index (the same [[keyPid]] arithmetic the writers
    * hash with). At the design point (100k partitions) a lookup reads
    * 1/100k of the table instead of scanning every footer.
    *
    * `value` must be the pk column's VALUE; when the manifest stores
    * a schema it is cast to the column's exact type first (Spark's
    * hash is type-sensitive: hash(1) != hash(1L)). For schema-less
    * manifests pass the exact runtime type the writer used. A head
    * without a partition-count stamp (history written before it)
    * refuses; use readAt + filter. */
  def readKey(spark: SparkSession, root: String, pk: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val head = versions(root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val m = manifestAt(root, head)
    val pm = resolved(root, head, m)._1
    val p = m.nParts.getOrElse(
      throw new IllegalStateException(
        s"$root v$head has no partition-count stamp (nparts) — a point " +
          "lookup hashes the key with it; readAt + filter scans instead"))
    val schema = schemaOf(m)
    val keyLit = schema.flatMap(_.fields.find(_.name == pk))
      .map(f => lit(value).cast(f.dataType)).getOrElse(lit(value))
    // one-row local projection: evaluates the SAME codegen'd hash the
    // writers use — never reimplement the key→pid arithmetic
    val label = spark.range(1)
      .select(pmod(hash(keyLit), lit(p)).cast("int")).head().getInt(0)
    pm.get(label.toString) match {
      case None if m.logs.isEmpty => readAt(spark, root, head).limit(0)
      case dirs =>
        // the key's base partition and the logs' rows of the key
        readResolved(spark, root, m, dirs.getOrElse(Nil), schema,
          Some(col(pk) === keyLit)).filter(col(pk) === keyLit)
    }
  }

  private def tagsDir(root: String): Path = Paths.get(root, "_tags")

  private def tagFile(root: String, name: String): Path = {
    // no leading dot: tags() skips dotfiles (temp files live there),
    // so a ".name" tag would be created "successfully" yet pin
    // nothing — refuse it here instead (review r14)
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,127}"),
      s"tag name '$name' — use filename-safe [A-Za-z0-9._-] starting " +
        "with an alphanumeric, <=128 chars")
    tagsDir(root).resolve(s"$name.json")
  }

  /** Pin a NAMED TAG to version `v` (default: the current head) — the
    * Iceberg tag / Delta named-snapshot analog. A tag is an immutable
    * reference: [[expire]] keeps the tagged version (and the delta
    * chain that resolves it) retained however far the head advances,
    * so [[vacuum]] never reclaims its data — the release/audit pin a
    * 100 TB corpus needs ("the snapshot train run X read") without
    * copying a byte. Tags record the table's incarnation id, so a tag
    * from a deleted-and-recreated root pins nothing and reads loudly
    * stale. Creation is CREATE_NEW-atomic like a commit; re-pointing
    * a name is dropTag + tag, never a silent overwrite. Returns the
    * pinned version. */
  def tag(root: String, name: String, v: Int = -1): Int = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no committed version under $root")
    val target = if (v < 0) vs.last else v
    require(vs.contains(target),
      s"$root has no retained version $target to tag")
    // identity-less legacy history (manifests predating the tableid
    // stamp) cannot be tagged: the NEXT commit mints an id, tags()
    // would then see a mismatched incarnation and the pin would
    // silently die on an ordinary commit (review r14) — commit once
    // under current code first
    val id = tableId(root).getOrElse(throw new IllegalStateException(
      s"$root has no incarnation identity (pre-stamp history) — " +
        "commit once to mint one, then tag"))
    Files.createDirectories(tagsDir(root))
    val tmp = tagsDir(root).resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, s"""{"version":$target,"tableid":"$id"}""")
    try Files.createLink(tagFile(root, name), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.delete(tmp)
      throw new IllegalStateException(
        s"tag '$name' already exists on $root — tags are immutable " +
          "references; dropTag first to re-point the name")
    }
    Files.delete(tmp)
    // tag-then-verify: an expire pass that read the tag set BEFORE
    // this link may be condemning the target right now — expire's
    // two-phase protocol (condemn → re-read tags → delete/restore)
    // sees any tag linked before its re-read, and a target it already
    // condemned has vanished from versions() by the time we re-check
    // here, so one of the two sides always detects the race. On
    // detection: clean up and fail LOUDLY rather than return a
    // dangling pin (review r14).
    if (!versions(root).contains(target)) {
      Files.deleteIfExists(tagFile(root, name))
      throw new IllegalStateException(
        s"version $target expired while tagging — it was unpinned when " +
          "retention selected it; re-commit or tag a retained version")
    }
    target
  }

  /** All tags of the root's CURRENT incarnation (name → version). A
    * tag stamped by a previous incarnation (deleted-and-recreated
    * root) is excluded — its version numbers describe a dead table,
    * so it must neither pin retention nor resolve reads; [[readAtTag]]
    * surfaces it as a loud error instead. */
  def tags(root: String): Map[String, Int] = {
    val dir = tagsDir(root)
    if (!Files.isDirectory(dir)) return Map.empty
    val id = tableId(root).getOrElse("")
    val s = Files.list(dir)
    val raw =
      try s.iterator.asScala
        .map(p => p.getFileName.toString -> p)
        .collect { case (n, p) if n.endsWith(".json") && !n.startsWith(".") =>
          n.stripSuffix(".json") ->
            Files.readString(p) }.toSeq
      finally s.close()
    raw.flatMap { case (name, txt) =>
      val v = "\"version\":(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
      val tid = "\"tableid\":\"([0-9a-zA-Z-]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("")
      v.filter(_ => tid == id).map(name -> _)
    }.toMap
  }

  /** Remove a tag (its version re-enters normal retention at the next
    * [[expire]]). Returns whether the tag existed. */
  def dropTag(root: String, name: String): Boolean =
    Files.deleteIfExists(tagFile(root, name))

  /** The table exactly as the named tag pinned it. Throws on an
    * unknown tag and on a STALE one (stamped by a previous incarnation
    * of the root) — a stale tag's version numbers describe a deleted
    * table and must never silently resolve against the new one. */
  def readAtTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val f = tagFile(root, name)
    require(Files.exists(f), s"no tag '$name' on $root")
    tags(root).get(name) match {
      case Some(v) => readAt(spark, root, v)
      case None => throw new IllegalStateException(
        s"tag '$name' on $root is stale — it was stamped by a previous " +
          "incarnation of this root (deleted-and-recreated table); " +
          "dropTag and re-tag against the live table")
    }
  }

  /** RESTORE the table to the content of retained version `toV`
    * (Delta's `RESTORE TABLE ... VERSION AS OF`): publishes a NEW
    * head commit whose resolved content IS `toV`'s — history moves
    * only forward, the bad commits stay readable for forensics, and
    * under write-once data dirs the operation is METADATA-ONLY (zero
    * data bytes move; the new manifest re-references `toV`'s dirs,
    * which retention has kept live). Partitioned restores re-stamp
    * `toV`'s partition count and schema — a writer that staged under
    * the abandoned head's layout hits [[PartitionCountChanged]] and
    * restages, the same guard a rescale race uses — and always write
    * a FULL manifest (a checkpoint), cutting the delta chain exactly
    * like compaction does. A lost race, or a manifest a racing expire
    * deleted mid-read, re-runs the restore on the new head
    * ([[rebasing]]).
    *
    * Stamped [[KindBatch]]: a restore CHANGES CONTENT, so on a
    * followed destination the follower's foreign-writer net refuses
    * the replica afterwards — restore the SOURCE and let replication
    * converge (the change feed across the restore commit emits the
    * inverse delta, partition-pruned, phantom-free). */
  def restore(spark: SparkSession, root: String, toV: Int): Int =
    rebasing(headMoved) {
      val vs = versions(root)
      val head = vs.lastOption.getOrElse(throw new IllegalStateException(
        s"no committed version under $root"))
      require(vs.contains(toV),
        s"$root has no retained version $toV (expired or never " +
          "committed) — restore targets must be retained (pin release " +
          "candidates with tag())")
      val target = manifestAt(root, toV)
      // identity/provenance are INCARNATION state — carried from the
      // head like any commit; content/layout/schema come from toV
      val (pm, ps) = resolved(root, toV, target)
      publish(root, successor(root, Some(manifestAt(root, head)), head + 1,
        "restore", Content(pm, ps), schemaDdl = target.schema,
        nParts = target.nParts, key = target.key, logs = target.logs))
    }

  /** [[restore]] to the version a tag pinned — the named form an
    * operator actually types in an incident. */
  def restoreTag(spark: SparkSession, root: String, name: String): Int =
    restore(spark, root, tags(root).getOrElse(name,
      throw new IllegalStateException(
        s"no tag '$name' on $root (or it is stale — see readAtTag)")))

  /** TARGETED DELETE BY KEY (the GDPR-erasure path; Delta's
    * `DELETE WHERE pk IN (...)` with partition pruning): physically
    * remove every row whose `pk` appears in `keys` (a DataFrame
    * carrying a `pk` column — scales to million-key erasure batches
    * without a driver-side list), touching ONLY the key-hash
    * partitions those keys live in. Work is O(touched partitions):
    * the key set's pids bound the read, a semi-join finds which of
    * those actually HOLD doomed rows, and only hit partitions are
    * rewritten — erasing already-absent keys moves zero bytes and
    * commits nothing. The old versions still serve the rows until
    * [[expire]] + [[vacuum]] retire them — completing an erasure
    * requires the retention pass, and a [[tag]] pinning an old
    * version deliberately blocks it (drop the tag first); the change
    * feed across the commit emits true `delete` rows, so replicas
    * converge through the ordinary follower tick.
    *
    * A racing writer wins: [[rebasing]] re-applies the delete on the
    * new head. Stamped [[KindBatch]] — content
    * changes on a followed replica are refused; erase at the SOURCE.
    * Returns (rows deleted, rewritten partition labels). */
  def deleteKeys(spark: SparkSession, root: String, pk: String,
      keys: DataFrame,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    require(keys.columns.contains(pk),
      s"keys frame must carry the key column '$pk'")
    rebasing(headMoved) {
      val head = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val m = manifestAt(root, head)
      val p = m.nParts.getOrElse(
        throw new IllegalStateException(
          s"$root v$head has no partition-count stamp (nparts) — a " +
            "key erasure hashes the keys with it; use deleteWhere"))
      val pm = resolved(root, head, m)._1
      if (pm.isEmpty && m.logs.isEmpty) return (0L, Nil)
      val schema = schemaOf(m)
      // hash with the table's OWN pk type: Spark's hash is
      // type-sensitive (hash(1) != hash(1L)), so a caller's Int
      // keys against a BIGINT column would prune to the WRONG
      // partitions and the erasure would silently delete nothing.
      // Tables without a stored manifest schema (the fixed-schema
      // targets) sample one partition dir's parquet footer — one
      // footer read, not a table listing (review r14).
      val pkType = schema.flatMap(_.fields.find(_.name == pk)
        .map(_.dataType)).getOrElse {
        val sample = Paths.get(root,
          pm.values.flatten.headOption.getOrElse(m.logs.head.dir)).toString
        spark.read.parquet(sample).schema.fields.find(_.name == pk)
          .map(_.dataType).getOrElse(throw new IllegalArgumentException(
            s"$root has no column '$pk'"))
      }
      val k = keys.select(col(pk).cast(pkType).as(pk)).distinct()
        .withColumn(PidCol, keyPid(pk, p)).persist()
      try {
        // a key living only in a log has no base label yet; the logs
        // fold into the rewrite, so their labels are read too
        val fromLogs = logPids(spark, root, m)
        val candidates = touchedPids(k)
          .filter(l => pm.contains(l.toString) || fromLogs.contains(l))
        if (candidates.isEmpty) return (0L, Nil)
        val read = candidates ++ fromLogs
        val existing = readWithPid(spark, root, m,
          read.toSeq.sorted.flatMap(l => pm.getOrElse(l.toString, Nil)),
          Some(read)).persist()
        try {
          // hit pids AND the doomed-row count from ONE aggregation
          // over the semi-join (review r14)
          val hitCounts = existing
            .join(k.select(col(pk)), Seq(pk), "left_semi")
            .groupBy(PidCol).count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          if (hitCounts.isEmpty) return (0L, Nil)
          val hit = hitCounts.keySet
          val rewrite = hit ++ fromLogs
          val survivors = existing
            .filter(col(PidCol).isInCollection(rewrite.toSeq))
            .join(k.select(col(pk)), Seq(pk), "left_anti")
          commitErasure(root, head, m, pm, existing, survivors, rewrite,
            meter, pipeline)
          (hitCounts.values.sum, hit.toSeq.map(_.toString).sorted)
        } finally existing.unpersist()
      } finally k.unpersist()
    }
  }

  /** PREDICATE UPDATE (Delta's `UPDATE ... WHERE cond`): rewrite the
    * `set` columns of every row the condition holds TRUE for (null
    * and false leave rows untouched, the SQL rule), reading the whole
    * table once to find hit partitions but rewriting ONLY those —
    * the same work bound as [[deleteWhere]]. `pk` is the table's
    * key-hash layout column and is REFUSED as an update target: a
    * key rewrite re-homes the row into a different partition, which
    * is a delete + insert, not an in-place update (do it as one —
    * [[deleteKeys]] + a keyed merge — or the row would sit in the
    * wrong partition and silently stop being replaced by later
    * merges). Checkpoint semantics as the delete ops; a head race
    * re-runs the update on the new head ([[rebasing]]). Returns (rows
    * updated, rewritten partition labels). */
  def updateWhere(spark: SparkSession, root: String, pk: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "no columns to set")
    require(!set.contains(pk),
      s"updating the layout key '$pk' re-homes rows across partitions — " +
        "that is a delete + insert (deleteKeys + a keyed merge), not an " +
        "in-place update")
    require(!set.contains(PidCol),
      s"'$PidCol' is the reserved internal partition column")
    withHeadScan(spark, root) {
      (head, m, pm, existing, fromLogs) =>
        // the layout-key guard above is only as good as the name the
        // caller passed — a typo'd pk would disarm it and let the
        // REAL key be rewritten (review r14)
        require(existing.columns.contains(pk),
          s"$root has no column '$pk' — the layout key must name a " +
            "real column or the key-rewrite guard is vacuous")
        set.keys.foreach(c => require(existing.columns.contains(c),
          s"$root has no column '$c'"))
        val matched = coalesce(cond, lit(false))
        // hit pids AND the matched-row count from ONE aggregation —
        // the pre-rewrite scans dominate this op's cost (review r14)
        val hitCounts = existing.filter(matched).groupBy(PidCol).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        if (hitCounts.isEmpty) (0L, Nil)
        else {
          val hit = hitCounts.keySet
          val rewrite = hit ++ fromLogs
          // ONE select so every set expression evaluates against the
          // OLD row (the SQL UPDATE rule) — a fold of withColumn
          // would let a later assignment read an earlier one's
          // output. Each expression is CAST to its target column's
          // existing type: when()'s branch coercion would otherwise
          // widen the written parquet type away from the manifest
          // schema and the vectorized reader would refuse the
          // rewritten partitions (review r14 — Delta's UPDATE casts
          // the same way).
          val types = existing.schema.fields.map(f => f.name -> f.dataType)
            .toMap
          val rewritten = existing
            .filter(col(PidCol).isInCollection(rewrite.toSeq))
            .select(existing.columns.toSeq.map { c =>
              set.get(c).map(e =>
                when(matched, e.cast(types(c))).otherwise(col(c)).as(c))
                .getOrElse(col(c))
            }: _*)
          commitErasure(root, head, m, pm, existing, rewritten, rewrite,
            meter, pipeline)
          (hitCounts.values.sum, hit.toSeq.map(_.toString).sorted)
        }
    }
  }

  /** Shared shell for the predicate DML ops: resolve the head,
    * full-scan-read it (logs resolved) with pid recovery, and persist
    * it for the body's multiple passes. The body also gets the labels
    * the logs' keys hash into: an op that commits folds the logs, so
    * it rewrites those labels too. The whole attempt, body included,
    * re-runs on a head race ([[rebasing]]). */
  private def withHeadScan(spark: SparkSession, root: String)(
      body: (Int, Manifest, Map[String, Seq[String]], DataFrame, Set[Int])
        => (Long, Seq[String])): (Long, Seq[String]) =
    rebasing(headMoved) {
      val head = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val m = manifestAt(root, head)
      val pm = resolved(root, head, m)._1
      val existing = readWithPid(spark, root, m,
        pm.values.flatten.toSeq.sorted, None).persist()
      try body(head, m, pm, existing, logPids(spark, root, m))
      finally existing.unpersist()
    }

  /** Partition reader shared by the erasure ops and
    * [[compactPartitions]]: the given relative dirs of `m` under its
    * (optional) schema, resolved against its logs (restricted to the
    * keys of `labels` when given), with each row's partition label in
    * the RESERVED [[PidCol]] — a data column named "pid" is legal and
    * must not be clobbered. A table with a stamped key derives the
    * label from the key ([[keyPid]]), as its writers do; a log row has
    * no partition path. Tables without the stamp (no logs either)
    * recover it from the file path, the stagePartitioned layout
    * invariant. */
  private def readWithPid(spark: SparkSession, root: String, m: Manifest,
      dirs: Seq[String], labels: Option[Set[Int]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    (m.key, m.nParts) match {
      case (Some(k), Some(p)) =>
        readResolved(spark, root, m, dirs, schemaOf(m),
          labels.flatMap(logPidFilter(m, _)))
          .withColumn(PidCol, keyPid(k.pk, p))
      case _ =>
        require(m.logs.isEmpty, s"$root v${m.version} carries logs but no key")
        readResolved(spark, root, m, dirs, schemaOf(m))
          .withColumn(PidCol, regexp_extract(
            col("_metadata.file_path"), "/pid=(\\d+)/", 1).cast("int"))
    }
  }

  /** Shared erasure tail (review r14 — one body so the metering,
    * emptied-label, and checkpoint rules can never drift between the
    * two delete ops): stage the surviving rows of the `rewrite`
    * partitions (the hit ones plus every label a log key hashes into:
    * the commit folds the logs, or a log row would bring an erased key
    * back), drop labels left empty, and publish as a CHECKPOINT commit —
    * retention can then drop every pre-delete manifest at the next
    * expire instead of keeping them as delta ancestry, so the erasure
    * completes on the retention cadence, not the checkpoint
    * interval's (Delta's checkpoint-then-clean shape).
    *
    * `m`/`pm` are the head manifest and its resolved labels, `existing`
    * the pid-tagged read the survivors came from. An erasure that
    * empties the table stamps the read schema: with no data file left
    * to infer one from, [[read]] would otherwise fail instead of
    * serving an empty typed frame. */
  private def commitErasure(root: String, head: Int, m: Manifest,
      pm: Map[String, Seq[String]], existing: DataFrame,
      survivors: DataFrame, rewrite: Set[Int],
      meter: Option[graft.streaming.EgressMeter], pipeline: String): Unit = {
    val staged = stagePartitioned(survivors, root, PidCol)
    meter.foreach(_.add(pipeline, root, "table_copy",
      stagedPartBytes(root, staged)))
    val emptied = rewrite.map(_.toString) -- staged.keySet
    val schemaDdl = m.schema.orElse(
      Some(existing.drop(PidCol).schema.toDDL)
        .filter(_ => (pm.keySet -- emptied).isEmpty && staged.isEmpty))
    commitPartitionsOnce(staged, root, head, dropParts = emptied,
      nParts = m.nParts, schemaDdl = schemaDdl, forceCheckpoint = true,
      foldLogs = m.logs.map(_.dir).toSet)
    ()
  }

  /** PREDICATE DELETE (Delta's `DELETE WHERE cond`): remove every row
    * the condition holds TRUE for (null and false keep their rows,
    * the SQL rule). Without column statistics a predicate can live
    * anywhere, so this pays ONE full scan to find the hit partitions —
    * but rewrites only those, and commits nothing when the predicate
    * matches nowhere. Key-based erasure should use [[deleteKeys]]
    * (pruned read, no full scan). Returns (rows deleted, rewritten
    * partition labels). */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    withHeadScan(spark, root) {
      (head, m, pm, existing, fromLogs) =>
        val matched = coalesce(cond, lit(false))
        // hit pids AND the doomed-row count from ONE aggregation
        val hitCounts = existing.filter(matched).groupBy(PidCol).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        if (hitCounts.isEmpty) (0L, Nil)
        else {
          val hit = hitCounts.keySet
          val rewrite = hit ++ fromLogs
          val survivors = existing
            .filter(col(PidCol).isInCollection(rewrite.toSeq))
            .filter(not(matched))
          commitErasure(root, head, m, pm, existing, survivors, rewrite,
            meter, pipeline)
          (hitCounts.values.sum, hit.toSeq.map(_.toString).sorted)
        }
    }
  }

  /** Partition-scoped OPTIMIZE — the maintenance loop for tables
    * written by [[commitPartitions]]: rewrite ONLY partitions whose
    * live file count exceeds `maxFilesPerPart` (or that span several
    * dirs), carry every untouched partition's dirs into the new
    * manifest verbatim, and carry the manifest SCHEMA forward so an
    * evolving table's restart-reload contract survives its own
    * maintenance. One Spark job regardless of how many partitions are
    * over budget: each row's partition is recovered from its file
    * path (`pid=` is the on-disk layout invariant of
    * [[stagePartitioned]]) or, on a table with a stamped key, from
    * the key's hash. It also FOLDS a merge-on-read table's logs: every
    * label a log key hashes into is rewritten with its resolved rows
    * and the logs leave the manifest. Compaction is maintenance, so
    * each attempt first waits out live writer intents ([[asWriter]]),
    * as [[rescalePartitions]] does: a pending compaction never makes a
    * merge lose its commit race. Each attempt re-resolves the head
    * manifest and restages from it; [[rebasing]] re-runs it on a head
    * race (the lost attempt's staged dirs become vacuum debris).
    * Returns the rewritten partition labels (empty = nothing over
    * budget and no logs, no commit). */
  def compactPartitions(spark: SparkSession, root: String,
      maxFilesPerPart: Int = 1,
      maxAttempts: Int = CommitAttempts,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Seq[String] = {
    // the WHOLE attempt rebases: the base's manifest (or its small
    // files) can be expired/vacuumed by a maintenance racer between
    // the versions() listing and any read below
    rebasing(headMoved, maxAttempts) {
      awaitWriters(root)
      val base = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val m = manifestAt(root, base)
      // budget check from stamped manifest stats when present —
      // O(P) metadata instead of an O(table files) stat walk;
      // unstamped labels (pre-stamp manifests) walk once
      val (pm, stats) = resolved(root, base, m)
      val over = pm.filter { case (k, ds) =>
        ds.size > 1 || stats.get(k).map(_._2)
          .getOrElse(ds.map(dirStats(root, _)._2).sum) > maxFilesPerPart }
      // the logs fold when there are more of them than the per-label
      // file budget: each is one more file every reader opens
      val rewrite = over.keySet.map(_.toInt) ++
        (if (m.logs.size > maxFilesPerPart) logPids(spark, root, m) else Set.empty[Int])
      if (rewrite.isEmpty) return Nil
      val df = readWithPid(spark, root, m,
        rewrite.toSeq.sorted.flatMap(l => pm.getOrElse(l.toString, Nil)),
        Some(rewrite))
      val staged = stagePartitioned(df, root, PidCol)
      // meter per attempt: a lost race's staged dirs are real bytes
      // physically written (vacuum reclaims files, not the bill)
      meter.foreach(_.add(pipeline, root, "table_copy",
        stagedPartBytes(root, staged)))
      commitPartitionsOnce(staged, root, base,
        schemaDdl = m.schema, writerKind = KindMaintenance,
        forceCheckpoint = true,
        foldLogs = if (m.logs.size > maxFilesPerPart) m.logs.map(_.dir).toSet else Set.empty)
      rewrite.map(_.toString).toSeq.sorted
    }
  }

  /** PARTITION-COUNT EVOLUTION (the Iceberg partition-spec-evolution
    * analog for this manifest format — VERDICT r12 item 1): one Spark
    * job re-hashes every live row into `newP` key-hash partitions and
    * publishes the new layout as a single full-rewrite commit with
    * the count re-stamped. Without it a table seeded at P and grown
    * 1000× keeps P forever, partitions fatten without bound, and the
    * partition-scoped merge's O(touched) rewrite bound quietly decays
    * back toward O(table).
    *
    * Safety against concurrent writers, both directions:
    *  - rescale loses a commit race → [[rebasing]] on [[headMoved]]:
    *    re-read the head (racer's merge included) and restage — the
    *    writer always wins;
    *  - a writer loses to rescale → its staged dirs were hashed under
    *    the OLD count; [[commitPartitionsOnce]]'s count guard throws
    *    [[PartitionCountChanged]] and the writer restages under the
    *    new stamp (`rebasing(layoutMoved)`) instead of merging
    *    wrong-layout dirs;
    *  - each attempt starts only while no other writer's intent is
    *    live ([[asWriter]]), so a writer restages at most once per
    *    rescale already running when it started.
    *
    * The manifest schema rides the commit (evolving tables keep their
    * restart-reload contract), and downstream [[changes]] across the
    * boundary degrades to a full two-snapshot diff (every partition's
    * dir set moved) that yields ZERO phantom changes — a follower
    * pays one table-scan-sized read, then resumes pruned ticks.
    *
    * @param pk the key column whose [[keyPid]] hash defines the
    *   layout — must be the same key every writer of this table uses */
  def rescalePartitions(spark: SparkSession, root: String, pk: String,
      newP: Int, maxAttempts: Int = CommitAttempts,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Int = {
    require(newP > 0, "newP must be positive")
    rebasing(headMoved, maxAttempts) {
      awaitWriters(root)
      val base = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val m = manifestAt(root, base)
      require(m.key.forall(_.pk == pk),
        s"$root is keyed on '${m.key.map(_.pk).getOrElse("")}', not '$pk'")
      // the logs' rows resolve into the new layout; the full rewrite
      // carries no log
      val df = readResolved(spark, root, m,
        resolved(root, base, m)._1.values.flatten.toSeq.sorted, schemaOf(m))
      require(!df.columns.contains(PidCol),
        s"'$PidCol' is the reserved internal partition column")
      val staged = stagePartitioned(
        df.withColumn(PidCol, keyPid(pk, newP)), root, PidCol)
      // per attempt, like compactPartitions: a lost race's staged
      // dirs are bytes physically written (vacuum reclaims files,
      // not bills)
      meter.foreach(_.add(pipeline, root, "table_copy",
        stagedPartBytes(root, staged)))
      commitPartitionsOnce(staged, root, base,
        overwriteAll = true, schemaDdl = m.schema,
        nParts = Some(newP), writerKind = KindMaintenance)
    }
  }

  /** The rescale TRIGGER, derived from measured bytes rather than
    * guessed (the LshWidth pattern): when the mean live partition
    * size exceeds `targetBytesPerPart` (the scaladoc's ≈1 GB
    * object-store sweet spot at production scale), rescale to the
    * smallest power-of-two MULTIPLE of the current count that brings
    * the mean back under budget (a power of two outright when the
    * seed count is one). Doubling keeps successive rescales sparse —
    * each at least halves the mean — so a steadily growing table pays
    * O(log growth) full rewrites over its life. Run it where
    * [[compactPartitions]] runs (the table-maintenance loop); returns
    * the (oldP, newP) transition or None when under budget. */
  def rescaleIfNeeded(spark: SparkSession, root: String, pk: String,
      targetBytesPerPart: Long,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Option[(Int, Int)] = {
    require(targetBytesPerPart > 0, "budget must be positive")
    // The trigger reads the head manifest beside other maintenance
    // actors (a racing expire can delete it mid-read): it rebases, and
    // bows out quietly once its attempts are spent — the next
    // maintenance tick re-runs the check anyway. The rescale runs
    // once, after the trigger, with its own rebase.
    val grow: Option[(Int, Int)] =
      try rebasing(headMoved) {
        val head = versions(root).lastOption.getOrElse(return None)
        val m = manifestAt(root, head)
        val p = m.nParts.getOrElse(return None)
        // stamped stats make the trigger an O(P) manifest read; a
        // table whose manifests predate the stamp pays the walk until
        // its next commit re-stamps it
        val (pm, stats) = resolved(root, head, m)
        val total = m.logs.map(_.bytes).sum + (
          if (pm.keySet.subsetOf(stats.keySet))
            pm.keysIterator.map(stats(_)._1).sum
          else pm.values.flatten.map(dirStats(root, _)._1).sum)
        if (total <= targetBytesPerPart.toDouble * p) return None
        // Long arithmetic with a hard cap: a pathological
        // bytes/budget ratio above 2³¹ would wrap an Int doubling
        // loop negative and spin forever. 2³⁰ partitions is already
        // beyond any addressable layout (the label set alone would
        // be gigabytes of manifest) — cap there rather than loop.
        var newP = p.toLong
        while (total > targetBytesPerPart.toDouble * newP &&
            newP < (1L << 30)) newP *= 2
        Some((p, math.min(newP, 1L << 30).toInt))
      } catch { case e: Exception if headMoved(e) => None }
    grow.foreach { case (_, newP) =>
      rescalePartitions(spark, root, pk, newP,
        meter = meter, pipeline = pipeline)
    }
    grow
  }

  /** What one [[maintain]] pass did — every field names the table
    * versions/labels it produced so an operator log of reports is an
    * audit trail. */
  final case class Maintenance(
      rescaled: Option[(Int, Int)], compacted: Seq[String],
      expired: Seq[Int], vacuumed: Seq[String])

  /** One-call table maintenance — the loop the rescale trigger was
    * designed to live in: byte-budget rescale check FIRST (if it
    * fires, this pass skips compaction — the rescale just rewrote
    * every partition into fresh single-dir layout, so compacting the
    * old layout would be wasted work), then partition-scoped
    * compaction, then retention expiry and vacuum. Run it on the
    * maintenance cadence per table (the reference runs cleanup.py on
    * a schedule; a Spark deployment runs this from its housekeeping
    * job).
    *
    * `keepLast` is the reader-safety grace: vacuum only reclaims dirs
    * referenced by NO retained version, so keep enough versions to
    * outlast the longest in-flight reader (the expire/vacuum
    * two-step documented on [[expire]]). The default (1) is for
    * QUIESCED tables only — beside a live writer/follower it lets
    * vacuum reclaim dirs an in-flight merge is still reading; managed
    * loops ([[graft.streaming.PipelineManager.startMaintenance]])
    * default to a reader-safe window instead. `vacuumGraceMillis` is
    * the writer-safety grace ([[vacuum]]'s in-flight-staging rule) —
    * leave it at the default when any writer may be live. */
  def maintain(spark: SparkSession, root: String, pk: String,
      targetBytesPerPart: Long = 1L << 30, maxFilesPerPart: Int = 1,
      keepLast: Int = 1,
      vacuumGraceMillis: Long = 20 * 60 * 1000L,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Maintenance = {
    val rescaled = rescaleIfNeeded(spark, root, pk, targetBytesPerPart,
      meter = meter, pipeline = pipeline)
    val compacted =
      if (rescaled.isDefined) Nil
      else compactPartitions(spark, root, maxFilesPerPart,
        meter = meter, pipeline = pipeline)
    val expired = expire(root, keepLast)
    val vacuumed = vacuum(root, vacuumGraceMillis)
    Maintenance(rescaled, compacted, expired, vacuumed)
  }

  /** Incremental CHANGE FEED between two committed versions — the
    * Delta CDF / Iceberg incremental-scan analog, the read-side
    * complement of the partition-scoped merge: downstream consumers
    * get the keyed delta without snapshot-diffing the table.
    *
    * PARTITION-PRUNED: only the partitions whose dir set CHANGED
    * between the two versions are read (an untouched partition cannot
    * contain a changed row — its files are write-once), plus the
    * partitions the keys of the LOGS one side holds and the other does
    * not hash into (a log appended or folded away between the
    * versions). Each side resolves those partitions' base against all
    * of its own logs, so the scan is O(changed partitions), table-size
    * independent — the property that makes a change feed usable at
    * 100 TB.
    *
    * Both sides are read under `toV`'s manifest schema when one is
    * stored (evolving tables): pre-widen rows serve the added columns
    * as NULLs, so a schema widen alone never fabricates a change.
    * Rows are compared null-safely over all non-pk columns:
    *  - pk present only in `toV`  → `insert` (post-image)
    *  - pk present only in `fromV`→ `delete` (pre-image)
    *  - pk in both, row differs  → `update` (post-image)
    *  - pk in both, row equal    → no emission — a compaction or
    *    data-identical rewrite produces ZERO phantom changes.
    * (CDC-target tables tombstone via their own is_deleted flag, so
    * their deletes surface as updates; the `delete` class covers
    * true row removal: erasures, truncate-loads, a restore.) */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
      pk: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val vs = versions(root)
    Seq(fromV, toV).foreach(v => require(vs.contains(v),
      s"$root has no retained version $v (expired or never committed) — " +
        "re-bootstrap from a full snapshot (TableFollower does this " +
        "automatically)"))
    val mFrom = manifestAt(root, fromV)
    val mTo = manifestAt(root, toV)
    val schema = schemaOf(mTo)
    // one side: base `rels` of `m` resolved against its logs (only the
    // log rows `labels` can hold), under toV's schema
    def readSide(m: Manifest, rels: Seq[String],
        labels: Option[Set[Int]]): Option[DataFrame] =
      if (rels.isEmpty && m.logs.isEmpty) None
      else Some(readResolved(spark, root, m, rels, schema,
        labels.flatMap(logPidFilter(m, _))))
    // prune: a label reads only if its dir set moved (covers replaced,
    // added, and removed partitions) or a key of a log only one side
    // holds hashes into it
    val pmFrom = resolved(root, fromV, mFrom)._1
    val pmTo = resolved(root, toV, mTo)._1
    val moved = (pmFrom.keySet ++ pmTo.keySet)
      .filter(l => pmFrom.get(l) != pmTo.get(l)).map(_.toInt)
    val (fromLogs, toLogs) = (mFrom.logs.toSet, mTo.logs.toSet)
    val labels = moved ++ Seq(
      mFrom.copy(logs = (fromLogs -- toLogs).toSeq),
      mTo.copy(logs = (toLogs -- fromLogs).toSeq))
      .flatMap(logPids(spark, root, _))
    def side(m: Manifest, pm: Map[String, Seq[String]]) =
      readSide(if (labels.nonEmpty) m else m.copy(logs = Nil),
        labels.toSeq.sorted.flatMap(l => pm.getOrElse(l.toString, Nil)),
        Some(labels))
    val (oldDf, newDf) = (side(mFrom, pmFrom), side(mTo, pmTo))
    // "_change_type" is this feed's reserved output column (the Delta
    // CDF name): a table with a NATURAL column of that name would be
    // silently clobbered by the withColumn below and then dropped by
    // every feed consumer — fail loudly instead, same rule as the
    // writers' reserved PidCol (ADVICE r12)
    def checkReserved(cols: Seq[String]): Unit =
      require(!cols.contains("_change_type"),
        "'_change_type' is the change feed's reserved output column; " +
          "rename the table's natural column before consuming changes()")
    (oldDf, newDf) match {
      case (None, None) =>
        // no partition moved: an empty typed frame under the table
        // schema + change column
        val empty = readAt(spark, root, toV).limit(0)
        checkReserved(empty.columns.toSeq)
        empty.withColumn("_change_type", lit(""))
      case _ =>
        val base = oldDf.orElse(newDf).get
        val cols = base.columns.toSeq
        checkReserved(cols)
        val dataCols = cols.filterNot(_ == pk)
        def keyed(df: Option[DataFrame], side: String): DataFrame =
          df.getOrElse(base.limit(0))
            .select(col(pk), struct(cols.map(col): _*).as(side))
        val o = keyed(oldDf, "o_img")
        val n = keyed(newDf, "n_img")
        val oData = struct(dataCols.map(c => col(s"o_img.$c")): _*)
        val nData = struct(dataCols.map(c => col(s"n_img.$c")): _*)
        o.join(n, Seq(pk), "full_outer")
          .withColumn("_change_type",
            when(col("o_img").isNull, lit("insert"))
              .when(col("n_img").isNull, lit("delete"))
              .when(!(oData <=> nData), lit("update")))
          .filter(col("_change_type").isNotNull)
          // image side is chosen PER ROW (pre-image only for deletes)
          // — a per-column coalesce would resurrect the old value
          // when an update legitimately writes NULL into a column
          .select((cols.map(c =>
            when(col("n_img").isNull, col(s"o_img.$c"))
              .otherwise(col(s"n_img.$c")).as(c)) :+
            col("_change_type")): _*)
    }
  }

  /** Time-travel retention: drop all but the last `keepLast` version
    * manifests. Data dirs are untouched until [[vacuum]] reclaims the
    * now-unreferenced ones — the two-step (expire, then vacuum after
    * a grace period longer than any reader) is what keeps long
    * in-flight readers of expired versions safe. Returns the dropped
    * versions.
    *
    * DELTA chains floor the cut (r14): the oldest retained version
    * may be a delta whose resolution needs its ancestors, so nothing
    * at or above its chain ROOT (the newest full checkpoint at or
    * below it) is dropped — retention can briefly keep up to one
    * checkpoint interval of extra manifests, exactly Delta's
    * log-before-checkpoint rule. Chains are contiguous (base =
    * version − 1), so the floor covers every retained version's
    * ancestry at once.
    *
    * TAGS pin (r14): every tagged version keeps its whole chain
    * segment `[chain root, tag]` retained no matter how far below the
    * floor it falls — what makes a tag a durable release reference
    * rather than a name that silently dies at the next maintenance
    * pass. The retained set stays resolution-closed: each kept delta's
    * base is kept (segments are contiguous), and the first retained
    * version after any expiry gap is a chain ROOT (full manifest), so
    * [[vacuum]]'s incremental live walk needs no change. */
  private def condemnFile(root: String, v: Int): Path =
    versionsDir(root).resolve(f".condemn-v$v%08d.json")

  def expire(root: String, keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "must retain at least the current version")
    // the walk and the deletes race other retention actors (a manual
    // maintain beside a managed loop): a vanished manifest means the
    // racer is doing this same work — bow out with what's done, like
    // the commit path's raceGuard, instead of crashing the pass
    try {
      // crash recovery: a pass that died between condemn and verdict
      // left manifests renamed out of the listing — resurrect them
      // first (they are re-condemned below if truly expired). Version
      // numbers only grow, so the live name can never have been
      // reused; a FileAlreadyExists means another recoverer won.
      val vd = versionsDir(root)
      if (Files.isDirectory(vd)) {
        val ls = Files.list(vd)
        val leftover =
          try ls.iterator.asScala.filter(_.getFileName.toString
            .matches("\\.condemn-v\\d{8}\\.json")).toSeq
          finally ls.close()
        leftover.foreach { p =>
          val live = vd.resolve(p.getFileName.toString.stripPrefix(".condemn-"))
          try { Files.move(p, live); () }
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(p); ()
            case _: java.nio.file.NoSuchFileException => ()
          }
        }
      }
      val vs = versions(root)
      val nominal = vs.dropRight(keepLast)
      if (nominal.isEmpty) return Nil
      // reads a manifest live or mid-condemnation, so the pin walk
      // resolves a tag whose chain this very pass condemned
      def chainRoot(v: Int): Int =
        manifestAt(root, v, condemned = !Files.exists(versionFile(root, v)))
          .base.fold(v)(chainRoot)
      val floor = chainRoot(vs(math.max(0, vs.size - keepLast)))
      // stale-incarnation tags pin nothing (tags() excludes them);
      // a tag of an already-expired version likewise
      val pinned0: Set[Int] = tags(root).values.toSet[Int]
        .filter(t => vs.contains(t))
        .flatMap(t => chainRoot(t) to t)
      val candidates = nominal.filter(v => v < floor && !pinned0.contains(v))
      if (candidates.isEmpty) return Nil
      // TWO-PHASE DROP (review r14, the tag/expire race): first
      // CONDEMN — an atomic rename out of the versions() namespace —
      // then re-read the tag set and only delete what is still
      // unpinned, restoring the rest. Link and rename are both atomic,
      // so a tag racing this pass either linked before the re-read
      // (seen here — its chain is restored) or verifies after the
      // condemn (its target is gone from the listing — tag() fails
      // loudly and cleans up). No interleaving leaves a silent
      // dangling pin.
      val condemned = candidates.filter { v =>
        try { Files.move(versionFile(root, v), condemnFile(root, v)); true }
        catch { case _: java.nio.file.NoSuchFileException => false }
      }
      if (condemned.isEmpty) return Nil
      val pinned: Set[Int] = tags(root).values.toSet[Int]
        .flatMap(t => try { val r = chainRoot(t); (r to t).toSet }
          catch { case _: java.nio.file.NoSuchFileException => Set.empty[Int] })
      val (restore, drop) = condemned.partition(pinned.contains)
      restore.foreach { v =>
        try { Files.move(condemnFile(root, v), versionFile(root, v)); () }
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
      // delete ONLY the condemned name: if a concurrent recovery
      // already resurrected the live name, resurrection wins
      drop.filter(v => Files.deleteIfExists(condemnFile(root, v)))
    } catch {
      case _: java.nio.file.NoSuchFileException => Nil
    }
  }

  /** Delete data dirs referenced by NO retained version (failed/raced
    * commit debris, expired-version files). Never touches referenced
    * dirs, so concurrent readers of any retained version are
    * unaffected.
    *
    * `graceMillis` protects IN-FLIGHT STAGING (r13, found by the
    * managed-maintenance composition spec): a concurrent writer's
    * staged dirs are, by design, unreferenced until their commit
    * links — an immediate vacuum deletes them mid-write and the
    * writer then publishes a manifest pointing at partial data (the
    * spec measured 3798 of 5000 rows surviving). Unreferenced dirs
    * containing any file younger than the grace are skipped — the
    * Delta VACUUM retention-threshold rule; staging takes seconds, so
    * the 20-minute default is generous. Pass 0 only when no writer
    * can be staging (tests, quiesced tables). */
  def vacuum(root: String, graceMillis: Long = 20 * 60 * 1000L): Seq[String] = {
    val cutoff = System.currentTimeMillis() - graceMillis
    def inFlight(p: Path): Boolean = graceMillis > 0 && {
      // the probe walks dirs that may be ACTIVELY mutating (that's
      // what it exists to detect) — a file vanishing between the walk
      // listing and its stat (staging's partCol=→pid= rename, Spark's
      // _temporary cleanup) proves the dir is in flight, it must not
      // crash the maintenance pass
      try {
        val w = Files.walk(p)
        try w.iterator.asScala.exists(f =>
          Files.getLastModifiedTime(f).toMillis > cutoff)
        finally w.close()
      } catch {
        case _: java.nio.file.NoSuchFileException => true
        case _: java.io.UncheckedIOException => true
      }
    }
    // live set across ALL retained versions, walked ASCENDING with
    // the delta applied incrementally: chains are contiguous (base =
    // version − 1), so each retained delta extends the running map —
    // one file read and O(touched) work per version, instead of an
    // independent O(P) chain resolution per retained version
    // (keepLast × P map builds at the 100k-partition design point).
    // Chain roots fall back to their own full parse, exactly what
    // resolution would do.
    val live: Set[String] =
      try {
        val acc = Set.newBuilder[String]
        var running: Option[(Int, Map[String, Seq[String]])] = None
        val walked = Set.newBuilder[Int]
        versions(root).foreach { v =>
          walked += v
          val m = manifestAt(root, v)
          (m.base, running) match {
            case (Some(b), Some((rv, rm))) if rv == b =>
              // the base's dirs are already in acc (it is itself a
              // retained version the loop visited): only THIS delta's
              // own labels add — truly O(touched); a label it drops
              // stays live through the earlier versions that reference
              // it, which is exactly the union the live set wants
              running = Some((v, applyDelta(rm, m)))
              acc ++= m.parts.values.flatten
            case _ =>
              val pm = resolved(root, v, m)._1
              running = Some((v, pm))
              acc ++= pm.values.flatten
          }
          // every manifest carries its whole log list
          acc ++= m.logs.map(_.dir)
        }
        // CONDEMNED manifests count as live (review r14): an expire's
        // two-phase drop may restore one a racing tag pinned, and a
        // vacuum running inside that window must not have reclaimed
        // its data. Each condemned manifest's OWN parts suffice: its
        // untouched labels resolve through ancestors that are either
        // retained (walked above) or themselves condemned (their own
        // parts added here), with chain roots carrying full maps —
        // the union covers everything any of them references. Worst
        // case this keeps true debris one pass longer.
        val vd = versionsDir(root)
        if (Files.isDirectory(vd)) {
          val ls = Files.list(vd)
          val condemned =
            try ls.iterator.asScala.filter(_.getFileName.toString
              .matches("\\.condemn-v\\d{8}\\.json")).toSeq
            finally ls.close()
          condemned.foreach { p =>
            try {
              val m = manifestAt(root,
                p.getFileName.toString.substring(10, 18).toInt, condemned = true)
              acc ++= m.parts.values.flatten ++ m.logs.map(_.dir)
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
        }
        // ADVICE r15 (condemn→restore race): a version condemned AFTER
        // the versions() listing above and restored BEFORE the
        // condemned listing appears in NEITHER walk — its dirs, being
        // old, would vacuum as orphans while the tag still resolves.
        // Re-list and resolve anything the first walk did not see; a
        // manifest vanishing mid-read here falls through to the outer
        // bow-out, same as the first walk.
        val walkedSet = walked.result()
        versions(root).filterNot(walkedSet.contains).foreach { v =>
          acc ++= liveDirs(root, v, manifestAt(root, v))
        }
        acc.result()
      } catch {
        // an expire racing this walk deleted a manifest mid-read: a
        // retention actor is active RIGHT NOW, and an incomplete live
        // set must never feed a delete decision — bow out, the next
        // maintenance tick vacuums against the settled state
        case _: java.nio.file.NoSuchFileException => return Nil
      }
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return Nil
    val ls = Files.list(dataDir)
    // a manifest references pid= SUBDIRS of a uuid dir —
    // the top-level dir is live iff any referenced path sits under it
    // (matching the bare name alone would vacuum live partitions)
    val orphans =
      try ls.iterator.asScala.toSeq
        .filterNot { p =>
          val rel = s"data/${p.getFileName}"
          live.contains(rel) || live.exists(_.startsWith(rel + "/"))
        }
        .filterNot(inFlight)
      finally ls.close()
    orphans.foreach { p =>
      val w = Files.walk(p)
      val files = try w.iterator.asScala.toSeq.reverse finally w.close()
      files.foreach(Files.delete)
    }
    // partition rewrites orphan pid= SUBDIRS of uuid dirs whose other
    // partitions are still live — reclaim those too (the whole-dir
    // pass above only catches uuid dirs with NO live subpath)
    val ls2 = Files.list(dataDir)
    val partial =
      try ls2.iterator.asScala.toSeq
        .filter(p => live.exists(_.startsWith(s"data/${p.getFileName}/")))
      finally ls2.close()
    val deadSubs = partial.flatMap { p =>
      val subs = Files.list(p)
      val dead =
        try subs.iterator.asScala.toSeq
          .filter(s => s.getFileName.toString.startsWith("pid=") &&
            !live.contains(s"data/${p.getFileName}/${s.getFileName}") &&
            !inFlight(s))
        finally subs.close()
      dead.foreach { s =>
        val w = Files.walk(s)
        val files = try w.iterator.asScala.toSeq.reverse finally w.close()
        files.foreach(Files.delete)
      }
      dead.map(s => s"data/${p.getFileName}/${s.getFileName}")
    }
    orphans.map(p => s"data/${p.getFileName}") ++ deadSubs
  }
}
