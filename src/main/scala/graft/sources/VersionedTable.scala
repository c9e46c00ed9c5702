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
  * Layout:
  * {{{
  *   <root>/data/<uuid>/           parquet files of ONE commit (write-once)
  *   <root>/_versions/v<%08d>.json manifest: op + live data dirs
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
  *    The single-attempt forms ([[commitOnce]],
  *    [[commitPartitionsOnce]]) surface the race instead.
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
    while (live() && System.currentTimeMillis() < deadline) Thread.sleep(5)
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

  /** Data dirs (relative to root) live in version `v`. Partitioned
    * manifests (full or delta) resolve through the chain; flat
    * manifests regex-scan their one file, and `.distinct` guards
    * against a path appearing in two JSON fields ever double-reading. */
  private def manifestDirs(root: String, v: Int): Seq[String] = {
    val txt = mverGuard(root, v, Files.readString(versionFile(root, v)))
    if (txt.contains("\"parts\":") || txt.contains("\"base\":"))
      resolved(root, v, txt)._1.values.flatten.toSeq.distinct
    else
      // manifests are written by this object only; dir entries are
      // uuid paths with an optional partition subdir — no escapes
      flatDirsOf(txt)
  }

  // ---- single-file field extraction (one readString per manifest) --
  private def partsOf(txt: String): Map[String, Seq[String]] =
    "\"parts\":\\{(.*?)\\}".r.findFirstMatchIn(txt).map(_.group(1)) match {
      case None => Map.empty
      case Some(body) =>
        "\"(\\d+)\":\\[([^\\]]*)\\]".r.findAllMatchIn(body).map { m =>
          m.group(1) -> "\"([^\"]+)\"".r.findAllMatchIn(m.group(2))
            .map(_.group(1)).toSeq
        }.toMap
    }

  private def pStatsOf(txt: String): Map[String, (Long, Int)] =
    "\"pstats\":\\{(.*?)\\}".r.findFirstMatchIn(txt).map(_.group(1)) match {
      case None => Map.empty
      case Some(body) =>
        "\"(\\d+)\":\\[(\\d+),(\\d+)\\]".r.findAllMatchIn(body).map { m =>
          m.group(1) -> ((m.group(2).toLong, m.group(3).toInt))
        }.toMap
    }

  private def baseOf(txt: String): Option[Int] =
    "\"base\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)

  private def chainOf(txt: String): Int =
    "\"chain\":(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(0)

  /** The kind set a new commit carries forward: the parent's carried
    * set when it has one; at the FORMAT BOUNDARY (a parent written
    * before the carry existed) the full retained-history scan is
    * folded in ONCE — without this, a pre-carry foreign commit older
    * than the parent would vanish from the carry and the expiry-proof
    * guarantee would not survive the migration. */
  private def carryKinds(root: String, prevTxt: Option[String]): Set[String] =
    prevTxt match {
      case None => Set.empty
      case Some(txt) if txt.contains("\"kinds\":") => kindsOf(txt)
      case Some(_) => committedKinds(root)
    }

  /** Apply one delta manifest's parts on top of a resolved base —
    * THE delta-application semantic, shared by [[resolved]] and
    * vacuum's live walk so the two can never drift (a divergence
    * here makes vacuum compute a wrong live set, and a too-small
    * live set deletes live data). */
  private def applyDelta(base: Map[String, Seq[String]],
      txt: String): Map[String, Seq[String]] =
    (base -- dropsOf(txt)) ++ partsOf(txt)

  /** Data-dir paths referenced directly by one FLAT manifest's text —
    * the one definition of the path shape (see [[manifestDirs]]). */
  private def flatDirsOf(txt: String): Seq[String] =
    "\"(data/[0-9a-f-]+(?:/pid=\\d+)?)\"".r
      .findAllMatchIn(txt).map(_.group(1)).toSeq.distinct

  private def dropsOf(txt: String): Set[String] =
    "\"drops\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt).map(_.group(1))
      .map(b => "\"(\\d+)\"".r.findAllMatchIn(b).map(_.group(1)).toSet)
      .getOrElse(Set.empty)

  private def stringFieldOf(txt: String, field: String): Option[String] =
    ("\"" + field + "\":\"([0-9a-zA-Z-]+)\"").r.findFirstMatchIn(txt)
      .map(_.group(1))

  /** The CUMULATIVE writer-kind set a manifest carries (every kind
    * that ever committed in this incarnation, expiry-proof). A
    * manifest from before the carry contributes its own stamped kind
    * plus [[KindUnstamped]] — the history before it is unknowable, so
    * the txn-shape fallback stays in force for such tables. */
  private def kindsOf(txt: String): Set[String] =
    "\"kinds\":\"([0-9a-zA-Z,-]+)\"".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").toSet)
      .getOrElse(
        Set(stringFieldOf(txt, "wkind").getOrElse(KindUnstamped),
          KindUnstamped))

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

  /** Resolve version `v`'s full (parts, pstats) through its delta
    * chain. The memo holds the last resolution per root keyed by
    * (version, tableid): a commit resolving `head` applies one delta
    * on top of the cached `head - 1` — O(touched) — and a recreated
    * root's overlapping version numbers can't poison it because the
    * incarnation id must match too (the [[committedTxns]] reset-guard
    * lesson). Cache content is immutable-by-version, so hits never
    * re-read expired ancestor files (cold readers — fresh JVMs — walk
    * the ≤checkpoint-interval chain instead). */
  private val resolveCache = scala.collection.concurrent.TrieMap
    .empty[String, (Int, String, Map[String, Seq[String]],
      Map[String, (Long, Int)])]

  private def resolved(root: String, v: Int, txt: String)
      : (Map[String, Seq[String]], Map[String, (Long, Int)]) = {
    val id = stringFieldOf(txt, "tableid").getOrElse("")
    val out = baseOf(txt) match {
      case None => (partsOf(txt), pStatsOf(txt))
      case Some(b) =>
        val (pParts, pStats) = resolveCache.get(root) match {
          case Some((cv, cid, cp, cs)) if cv == b && cid == id => (cp, cs)
          case _ => resolved(root, b,
            mverGuard(root, b, Files.readString(versionFile(root, b))))
        }
        (applyDelta(pParts, txt),
          (pStats -- dropsOf(txt)) ++ pStatsOf(txt))
    }
    // keep the newest resolution only — resolving an old version for
    // a change-feed read must not regress the head commit's memo
    resolveCache.get(root) match {
      case Some((cv, cid, _, _)) if cv > v && cid == id => ()
      case _ => resolveCache.put(root, (v, id, out._1, out._2))
    }
    out
  }

  /** Partition label → live data dirs of version `v`, resolved
    * through the delta chain; empty for flat (unpartitioned)
    * manifests. */
  private def manifestParts(root: String, v: Int): Map[String, Seq[String]] =
    resolved(root, v, mverGuard(root, v, Files.readString(versionFile(root, v))))._1

  /** Partition map of the LATEST version (empty for flat manifests or
    * a nonexistent table). */
  def parts(root: String): Map[String, Seq[String]] =
    versions(root).lastOption
      .map(manifestParts(root, _)).getOrElse(Map.empty)

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

  /** Manifest FORMAT version this build writes and the newest it can
    * read (Delta's minReaderVersion rule): 2 = delta chains +
    * provenance stamps. A reader opening a manifest that declares a
    * HIGHER version throws instead of silently misreading semantics
    * it doesn't know (a pre-chain reader would have served a
    * 32-label delta as the whole table); manifests with no `mver`
    * are version-1 history, always readable. */
  val ManifestVersion = 2

  private def mverGuard(root: String, v: Int, txt: String): String = {
    for (m <- "\"mver\":(\\d+)".r.findFirstMatchIn(txt))
      if (m.group(1).toInt > ManifestVersion)
        throw new IllegalStateException(
          s"$root v$v declares manifest format ${m.group(1)}, newer than " +
            s"this reader's $ManifestVersion — upgrade before reading")
    txt
  }

  private def partCountAt(root: String, v: Int): Option[Int] =
    "\"nparts\":(\\d+)".r.findFirstMatchIn(
      Files.readString(versionFile(root, v))).map(_.group(1).toInt)

  /** The key-hash partition COUNT recorded by the latest manifest —
    * table state, not process config: a writer/follower must hash
    * with the count the table was laid out under, or a restart with
    * a different configured count silently splits keys across
    * partitions (stale rows stop being replaced). None for flat
    * tables and manifests that predate the stamp. */
  def partCount(root: String): Option[Int] =
    versions(root).lastOption.flatMap(partCountAt(root, _))

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

  private def stringFieldAt(root: String, v: Int,
      field: String): Option[String] =
    stringFieldOf(Files.readString(versionFile(root, v)), field)

  private def tableIdAt(root: String, v: Int): Option[String] =
    stringFieldAt(root, v, "tableid")

  /** The table's incarnation identity: a UUID minted by the first
    * commit under a root and carried by every manifest after it. A
    * deleted-and-recreated root mints a NEW id, which is how a
    * consumer holding state about the table (a [[graft.streaming
    * .TableFollower]] cursor) detects that its state describes a
    * different table than the one now living at the path (ADVICE
    * r12). None only for manifests that predate the stamp. */
  def tableId(root: String): Option[String] =
    versions(root).lastOption.flatMap(tableIdAt(root, _))

  private def followSrcAt(root: String, v: Int): Option[String] =
    stringFieldAt(root, v, "followsrc")

  /** Per-partition (live bytes, parquet file count) as of version
    * `v`, resolved through the delta chain; empty for manifests
    * predating the stamp. These are what let the maintenance triggers
    * run on O(P) manifest metadata instead of stat-walking every live
    * data file. */
  private def manifestPStatsAt(root: String, v: Int)
      : Map[String, (Long, Int)] =
    resolved(root, v, mverGuard(root, v, Files.readString(versionFile(root, v))))._2

  /** Latest stamped per-partition stats (label → (bytes, files)). */
  def partStats(root: String): Map[String, (Long, Int)] =
    versions(root).lastOption
      .map(manifestPStatsAt(root, _)).getOrElse(Map.empty)

  /** (bytes, parquet files) physically under one relative dir. */
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
    * this (destination) root — carried forward by maintenance commits
    * like `nparts`, so compaction on a replica doesn't amnesia its
    * provenance. None for tables never written by a follower. */
  def followSrc(root: String): Option[String] =
    versions(root).lastOption.flatMap(followSrcAt(root, _))

  /** The raw (unescaped) schema DDL one manifest's text carries, if
    * any — the single extraction [[manifestSchema]] parses and
    * [[restore]] re-stamps verbatim. */
  private def schemaDdlOf(txt: String): Option[String] =
    "\"schema\":\"((?:[^\"\\\\]|\\\\.)*)\"".r.findFirstMatchIn(txt)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))

  /** Table schema carried by version `v`'s manifest (evolving tables
    * only — see [[commitPartitions]]' schemaDdl): the read schema that
    * makes files written BEFORE a widen serve the added columns as
    * NULLs. None for manifests that never stored one. */
  def manifestSchema(spark: SparkSession, root: String, v: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaDdlOf(Files.readString(versionFile(root, v)))
      .map(org.apache.spark.sql.types.StructType.fromDDL)

  private def jsonEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Commit stamp carried by a manifest text (absent in pre-ts
    * manifests). */
  private def tsOf(txt: String): Option[Long] =
    "\"ts\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)

  private def writeManifest(root: String, v: Int, op: String,
      dirs: Seq[String], txn: Option[Long],
      parts: Option[Map[String, Seq[String]]] = None,
      schemaDdl: Option[String] = None,
      nParts: Option[Int] = None,
      tableId: Option[String] = None,
      followSrc: Option[String] = None,
      pStats: Option[Map[String, (Long, Int)]] = None,
      writerKind: String = KindBatch,
      base: Option[Int] = None,
      chain: Int = 0,
      drops: Set[String] = Set.empty,
      kinds: Set[String] = Set.empty,
      prevTs: Option[Long] = None): Path = {
    val txnField = txn.fold("")(id => s""""txn":$id,""")
    // format version: readers refuse manifests newer than they speak
    // (Delta's minReaderVersion rule); 2 = delta chains + provenance
    val mverField = s""""mver":$ManifestVersion,"""
    // commit wall-clock (epoch millis) — what timestamp time travel
    // resolves against. Monotonic non-decreasing per root: a commit at
    // v+1 only links after v's link, and v's manifest text (this
    // stamp included) was written before v linked — AND clamped to
    // STRICTLY ABOVE the previous manifest's stamp (Delta's in-commit-
    // timestamp rule is prev+1, ADVICE r15/r16): an NTP step-back or
    // cross-host clock skew on a shared filesystem must not let
    // versionAsOf resolve an older-numbered but later-stamped version,
    // and equal stamps would make timestampAsOf/history ordering
    // ambiguous between consecutive versions.
    val tsField =
      s""""ts":${math.max(System.currentTimeMillis(),
        prevTs.fold(0L)(_ + 1))},"""
    // the incarnation's CUMULATIVE writer-kind set, carried forward
    // like tableid: retention can expire the manifest a foreign
    // writer committed, but the kinds it contributed ride every later
    // commit — a cold reader's foreign-writer check survives expiry
    val kindsField =
      s""""kinds":"${(kinds + writerKind).toSeq.sorted.mkString(",")}","""
    val schemaField = schemaDdl.fold("")(d => s""""schema":"${jsonEsc(d)}",""")
    val nPartsField = nParts.fold("")(n => s""""nparts":$n,""")
    val idField = tableId.fold("")(i => s""""tableid":"$i",""")
    val followField = followSrc.fold("")(i => s""""followsrc":"$i",""")
    // delta-manifest pointers: base = the version this one's parts
    // apply ON TOP OF (absent = full manifest), chain = distance to
    // the chain's full root, drops = labels removed at this version
    val baseField = base.fold("")(b =>
      s""""base":$b,"chain":$chain,""" + (
        if (drops.isEmpty) ""
        else drops.toSeq.sortBy(_.toInt)
          .map("\"" + _ + "\"").mkString("\"drops\":[", ",", "],")))
    // per-commit writer provenance (VERDICT r13 item 1): the txn id
    // says WHICH batch, wkind says WHO wrote it — what lets a
    // follower refuse ANY foreign data commit on its destination
    // instead of guessing from the id's shape
    val kindField = s""""wkind":"$writerKind","""
    // per-partition (bytes, parquet file count), stamped at commit
    // time so the maintenance triggers read O(P) metadata instead of
    // stat-walking every live data file (the Iceberg manifest-metrics
    // idea): "pstats":{"<label>":[bytes,files],...}
    val statsField = pStats.fold("") { m =>
      m.toSeq.sortBy(_._1.toInt).map { case (k, (b, f)) =>
        "\"" + k + "\":[" + b + "," + f + "]"
      }.mkString("\"pstats\":{", ",", "},")
    }
    val common = s"$mverField$tsField$txnField$schemaField$idField" +
      s"$followField$kindField$kindsField$baseField"
    val body = parts match {
      case None =>
        dirs.map("\"" + _ + "\"").mkString(
          s"""{"version":$v,"op":"$op",$common"dirs":[""",
          ",", "]}")
      case Some(pm) =>
        pm.toSeq.sortBy(_._1.toInt).map { case (k, ds) =>
          "\"" + k + "\":[" + ds.map("\"" + _ + "\"").mkString(",") + "]"
        }.mkString(
          s"""{"version":$v,"op":"$op",$common$nPartsField$statsField"parts":{""",
          ",", "}}")
    }
    val tmp = versionsDir(root).resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, body)
    tmp
  }

  /** Per-root memo of (highest manifest scanned, txns seen): commits
    * are append-only and manifests immutable, so each commitBatch
    * only reads manifests NEWER than the last scan — O(1) amortized
    * instead of re-reading every retained manifest per micro-batch
    * (O(versions)/batch = quadratic cumulative I/O over a stream's
    * life). A manifest expired between listing and read is skipped —
    * its txns stay remembered from the earlier scan, which is the
    * conservative (skip-the-duplicate) direction. */
  private val txnCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Set[Long])]

  /** Drop the txn (and provenance-kind) memo for `root` — for callers
    * that delete/recreate a table root through a path this object
    * cannot observe. */
  def invalidateTxns(root: String): Unit = {
    txnCache.remove(root); kindCache.remove(root)
    resolveCache.remove(root); ()
  }

  /** Transaction ids already committed (streaming sink bookkeeping). */
  def committedTxns(root: String): Set[Long] = {
    val vs = versions(root)
    // History-reset guard (ADVICE r11): the memo assumes versions only
    // ever GROW under a root. A deleted-and-recreated root (or an
    // expire() below the scanned watermark is fine — expire keeps the
    // max) restarts its version numbering, and the stale txn set would
    // make commitBatch silently DROP fresh batches whose ids collide
    // with the old incarnation's. If the listing is empty or its max
    // is below the scanned watermark, the history was reset: drop the
    // memo and rescan from scratch.
    val (hi, known) = txnCache.get(root) match {
      case Some((h, _)) if vs.isEmpty || vs.max < h =>
        txnCache.remove(root); (0, Set.empty[Long])
      case Some(pair) => pair
      case None => (0, Set.empty[Long])
    }
    val newer = vs.filter(_ > hi)
    if (newer.isEmpty) known
    else {
      val add = newer.flatMap { v =>
        try "\"txn\":(\\d+)".r.findFirstMatchIn(
          Files.readString(versionFile(root, v))).map(_.group(1).toLong)
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      val merged = known ++ add
      txnCache.put(root, (newer.max, merged))
      merged
    }
  }

  /** Same incremental-scan memo as [[committedTxns]], over the
    * carried `kinds` provenance sets: manifests are immutable and
    * versions append-only, so each call reads only manifests newer
    * than the last scan. */
  private val kindCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Set[String])]

  /** EVERY writer kind that ever committed under this root's current
    * incarnation — what a follower scans to refuse a foreign writer
    * on its destination ([[KindUnstamped]] marks history whose
    * provenance only the txn-shape heuristic can guess at). Each
    * manifest's CARRIED cumulative `kinds` set (stamped forward like
    * tableid) is what makes the answer EXPIRY-PROOF: retention can
    * drop the manifest a foreign writer committed before any cold
    * reader scans it, but the kind it contributed rides every later
    * commit, so a fresh JVM still sees it. The incremental memo and
    * its history-reset guard mirror [[committedTxns]]; a manifest
    * expired between listing and read is skipped — its kinds stay
    * remembered from the earlier scan AND from every later manifest's
    * carry. */
  def committedKinds(root: String): Set[String] = {
    val vs = versions(root)
    val (hi, known) = kindCache.get(root) match {
      case Some((h, _)) if vs.isEmpty || vs.max < h =>
        kindCache.remove(root); (0, Set.empty[String])
      case Some(pair) => pair
      case None => (0, Set.empty[String])
    }
    val newer = vs.filter(_ > hi)
    if (newer.isEmpty) known
    else {
      val add = newer.flatMap { v =>
        try Some(kindsOf(Files.readString(versionFile(root, v))))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }.flatten
      val merged = known ++ add
      kindCache.put(root, (newer.max, merged))
      merged
    }
  }

  /** Stage `df` as a new write-once data dir; returns its relative path. */
  private def stage(df: DataFrame, root: String): String = {
    val rel = s"data/${UUID.randomUUID()}"
    df.write.parquet(Paths.get(root, rel).toString)
    rel
  }

  /** Stage `df` partitioned by integer column `partCol` — ONE Spark
    * job for however many partitions the frame touches (each becomes
    * a `pid=<k>` subdir of one fresh uuid dir, and each subdir is an
    * independent commit unit for [[commitPartitions]]). The frame is
    * hash-repartitioned on `partCol` first so a partition's rows
    * co-locate into one task → one file per touched partition; at
    * cluster scale raise `tasksPerWrite` so large batches spread over
    * more writers (more, smaller files per partition — compact()
    * owns the file-count budget either way). Returns partition label
    * → relative dir, only for partitions the frame actually touched. */
  private[graft] def stagePartitioned(df: DataFrame, root: String,
      partCol: String, tasksPerWrite: Int = 0): Map[String, String] = {
    import org.apache.spark.sql.functions.col
    val rel = s"data/${UUID.randomUUID()}"
    val out = Paths.get(root, rel)
    val arranged =
      if (tasksPerWrite > 0) df.repartition(tasksPerWrite, col(partCol))
      else df.repartition(col(partCol))
    arranged.write.partitionBy(partCol).parquet(out.toString)
    val ls = Files.list(out)
    val subdirs =
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"$partCol=")).toSeq
      finally ls.close()
    subdirs.map { d =>
      // manifest labels use the canonical pid= layout regardless of
      // the caller's column name (manifestDirs' regex contract)
      val k = d.substring(partCol.length + 1)
      if (partCol != "pid") {
        Files.move(out.resolve(d), out.resolve(s"pid=$k"))
      }
      k -> s"$rel/pid=$k"
    }.toMap
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

  /** Publish manifest `tmp` as version `next`: the atomic hard link
    * succeeds for exactly one writer; the loser drops its manifest and
    * sees [[ConcurrentCommit]]. */
  private def publish(root: String, next: Int, tmp: Path): Int = {
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
    parts.values.map(stagedBytes(root, _)).sum

  /** One optimistic PARTITION-SCOPED commit attempt at `expected + 1`:
    * the new manifest carries the previous version's partition map
    * with ONLY the staged labels replaced — untouched partitions keep
    * their existing dirs verbatim (never rewritten, never copied),
    * which is what turns the copy-on-write merge's O(table)/batch
    * write amplification into O(touched partitions). The atomic-link
    * publish, crash, and concurrency arguments are [[commitOnce]]'s
    * unchanged.
    *
    * A previous FLAT manifest (no partition map) cannot be merged
    * into incrementally — pass `overwriteAll = true` with a staged
    * map covering the whole keyspace to migrate (or to truncate-load
    * a partitioned table); otherwise this throws rather than silently
    * dropping the flat dirs.
    *
    * @param schemaDdl evolving tables store their CURRENT logical
    *   schema in every manifest so (a) readers serve pre-widen files
    *   with the added columns as NULLs and (b) a restarted writer
    *   reloads the evolved schema from the table itself. */
  def commitPartitionsOnce(stagedParts: Map[String, String], root: String,
      expected: Int, overwriteAll: Boolean = false,
      txn: Option[Long] = None, schemaDdl: Option[String] = None,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default",
      dropParts: Set[String] = Set.empty,
      nParts: Option[Int] = None,
      followSrc: Option[String] = None,
      writerKind: String = KindBatch,
      forceCheckpoint: Boolean = false): Int = {
    Files.createDirectories(versionsDir(root))
    val next = expected + 1
    // ONE read of the previous manifest: every carried field (count,
    // identity, provenance, chain depth) extracts from this text, and
    // the parts/stats resolve through it — the old five separate
    // readString calls were the measured commit-path constant at
    // P=100k (SCALE_MANIFEST probe)
    val prevTxt: Option[String] =
      if (expected == 0) None
      else Some(raceGuard(next)(mverGuard(root, expected,
        Files.readString(versionFile(root, expected)))))
    // layout guard: an incremental commit whose dirs were hashed under
    // a count the table no longer has must restage, not merge (see
    // PartitionCountChanged). A full rewrite (overwriteAll) DEFINES
    // the new layout — that's rescale itself — so it is exempt.
    if (!overwriteAll)
      for (txt <- prevTxt;
           stamped <- "\"nparts\":(\\d+)".r.findFirstMatchIn(txt)
             .map(_.group(1).toInt);
           supplied <- nParts)
        if (stamped != supplied)
          throw new PartitionCountChanged(stamped, supplied)
    // partitioned parents are recognizable from their text alone (a
    // delta or parts marker) — an incremental commit onto an
    // UNPARTITIONED non-empty manifest must migrate, not merge
    val prevPartitioned =
      prevTxt.exists(t => t.contains("\"parts\":") || t.contains("\"base\":"))
    if (!overwriteAll)
      for (txt <- prevTxt if !prevPartitioned)
        if (raceGuard(next)(manifestDirs(root, expected)).nonEmpty)
          throw new IllegalStateException(
            s"$root v$expected is an unpartitioned manifest; migrate " +
              "with a full rewrite (overwriteAll = true, staged map " +
              "covering every live key)")
    // delta or checkpoint? An incremental commit onto a partitioned
    // parent extends its chain unless the chain is due a full
    // checkpoint; overwriteAll and first commits are full by nature.
    // The DELTA path never resolves, walks, or re-serializes the
    // untouched labels — its cost is O(touched), which is the whole
    // point (the measured 865 ms / 7.8 MB per 32-label merge at
    // P=100k falls to the staged labels' constant).
    // forceCheckpoint: compaction commits always checkpoint (the
    // OPTIMIZE pass is exactly when retention wants the chain cut —
    // expire right after a compaction can then drop every replaced
    // version, Delta's checkpoint-then-clean shape)
    val parentChain = prevTxt.map(chainOf).getOrElse(0)
    val asDelta = !overwriteAll && !forceCheckpoint && prevPartitioned &&
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
        val (prev, prevStats) =
          if (overwriteAll || prevTxt.isEmpty)
            (Map.empty[String, Seq[String]], Map.empty[String, (Long, Int)])
          else raceGuard(next)(resolved(root, expected, prevTxt.get))
        val parts = (prev -- dropParts) ++
          stagedParts.view.mapValues(Seq(_)).toMap
        val stats = (prev -- dropParts).map { case (k, ds) =>
          k -> prevStats.getOrElse(k,
            raceGuard(next)(
              ds.map(dirStats(root, _)).foldLeft((0L, 0))(sumStats)))
        } ++ stagedStats
        (parts, stats)
      }
    meter.foreach(_.add(pipeline, root,
      if (txn.isDefined) "streaming" else "table_copy",
      stagedPartBytes(root, stagedParts)))
    // the partition count is table state: carry the previous
    // manifest's stamp forward whenever the caller doesn't supply one
    // (compaction, metadata-only commits), so it survives every
    // commit after the first writer records it
    val carriedN = nParts.orElse(
      if (overwriteAll) None
      else prevTxt.flatMap(txt =>
        "\"nparts\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)))
    // identity is INCARNATION state: minted once per root lifetime,
    // carried by every later commit (overwriteAll included — a
    // truncate-load is still the same table; only deleting the root
    // itself retires the id)
    val id = prevTxt.flatMap(stringFieldOf(_, "tableid"))
      .getOrElse(UUID.randomUUID().toString)
    // follower provenance carries like nparts so maintenance commits
    // (compaction) on a replica don't erase it
    val carriedFollow = followSrc.orElse(
      prevTxt.flatMap(stringFieldOf(_, "followsrc")))
    val tmp = writeManifest(root, next,
      if (overwriteAll) "overwrite_parts"
      else if (asDelta) "delta_parts" else "merge_parts",
      Nil, txn, parts = Some(mergedParts), schemaDdl = schemaDdl,
      nParts = carriedN, tableId = Some(id), followSrc = carriedFollow,
      pStats = Some(mergedStats), writerKind = writerKind,
      base = if (asDelta) Some(expected) else None,
      chain = if (asDelta) parentChain + 1 else 0,
      drops = if (asDelta) dropParts else Set.empty,
      kinds = raceGuard(next)(carryKinds(root, prevTxt)),
      prevTs = prevTxt.flatMap(tsOf))
    publish(root, next, tmp)
  }

  /** Exactly-once partition-scoped micro-batch merge: [[commitBatch]]'s
    * txn-guarded retry loop over [[commitPartitionsOnce]]. The staged
    * dirs are write-once, so a lost race retries with the SAME staged
    * data against the re-read partition map — no restaging, and a
    * duplicate batch id skips whole (its staged dirs become vacuum
    * debris, bytes already metered as moved). */
  def commitPartitions(stagedParts: Map[String, String], root: String,
      batchId: Long, overwriteAll: Boolean = false,
      schemaDdl: Option[String] = None,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default",
      dropParts: Set[String] = Set.empty,
      nParts: Option[Int] = None,
      followSrc: Option[String] = None,
      writerKind: String = KindBatch): Option[Int] = {
    // meter ONCE, outside the retry loop: the staged dirs are written
    // exactly once by the caller — a retried commit relinks the same
    // bytes and must not bill them again (commitOnce meters per
    // attempt because it also STAGES per attempt)
    meter.foreach(_.add(pipeline, root, "streaming",
      stagedPartBytes(root, stagedParts)))
    // only the head race retries here: the same staged dirs can land
    // on a new head, but not under a new layout — PartitionCountChanged
    // passes to the caller, which restages
    rebasing(headMoved) {
      if (committedTxns(root).contains(batchId)) None
      else Some(commitPartitionsOnce(stagedParts, root,
        versions(root).lastOption.getOrElse(0), overwriteAll,
        txn = Some(batchId), schemaDdl = schemaDdl, dropParts = dropParts,
        nParts = nParts, followSrc = followSrc, writerKind = writerKind))
    }
  }

  /** Exact on-disk bytes of one staged data dir — the byte-accounting
    * measure for [[graft.streaming.EgressMeter]] (etl_processed_bytes'
    * billing analog): what this commit attempt physically wrote,
    * including attempts later orphaned by a lost commit race (bytes
    * moved are bytes moved; vacuum reclaims the files, not the bill). */
  private def stagedBytes(root: String, rel: String): Long = {
    val s = Files.walk(Paths.get(root, rel))
    try s.iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** One optimistic commit attempt at exactly `expected + 1`.
    * @throws ConcurrentCommit if that version already landed */
  def commitOnce(df: DataFrame, root: String, overwrite: Boolean,
      expected: Int, txn: Option[Long] = None,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default",
      writerKind: String = KindBatch): Int = {
    Files.createDirectories(versionsDir(root))
    val next = expected + 1
    val staged = stage(df, root)
    meter.foreach(_.add(pipeline, root,
      if (txn.isDefined) "streaming" else "table_copy",
      stagedBytes(root, staged)))
    val dirs = (if (overwrite) Nil
                else raceGuard(next)(versions(root).lastOption.toSeq
                  .flatMap(manifestDirs(root, _)))) :+ staged
    val prevTxt: Option[String] =
      if (expected == 0) None
      else Some(raceGuard(next)(mverGuard(root, expected,
        Files.readString(versionFile(root, expected)))))
    val id = prevTxt.flatMap(stringFieldOf(_, "tableid"))
      .getOrElse(UUID.randomUUID().toString)
    val tmp = writeManifest(root, next,
      if (overwrite) "overwrite" else "append", dirs, txn,
      tableId = Some(id), writerKind = writerKind,
      kinds = raceGuard(next)(carryKinds(root, prevTxt)),
      prevTs = prevTxt.flatMap(tsOf))
    publish(root, next, tmp)
  }

  /** Exactly-once micro-batch append: the Structured Streaming
    * foreachBatch sink form. The batch id rides the manifest as a
    * transaction id; a redelivered batch (restart replays the last
    * uncommitted-to-the-CHECKPOINT batch, which may already be
    * committed to the TABLE) is recognized and skipped, so
    * at-least-once delivery from the checkpoint becomes exactly-once
    * in the table — the txn check and the data publish are the same
    * atomic manifest link. Returns None for a skipped duplicate. */
  def commitBatch(df: DataFrame, root: String, batchId: Long,
      overwrite: Boolean = false,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Option[Int] =
    rebasing(headMoved) {
      if (committedTxns(root).contains(batchId)) None
      else Some(commitOnce(df, root, overwrite,
        versions(root).lastOption.getOrElse(0), txn = Some(batchId),
        meter = meter, pipeline = pipeline))
    }

  /** Commit with optimistic retry: on a lost race the staged data of
    * the losing attempt is orphaned (vacuum reclaims it) and the
    * commit replays against the new table state. */
  def commit(df: DataFrame, root: String, overwrite: Boolean = false,
      maxAttempts: Int = CommitAttempts,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Int =
    rebasing(headMoved, maxAttempts) {
      commitOnce(df, root, overwrite, versions(root).lastOption.getOrElse(0),
        meter = meter, pipeline = pipeline)
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
    val paths = manifestDirs(root, v)
      .map(rel => Paths.get(root, rel).toString)
    manifestSchema(spark, root, v) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  // ==== snapshot management: timestamps, tags, restore (r14) =======

  /** Wall-clock (epoch millis) version `v` was committed at — the
    * manifest's own stamp; pre-stamp history (r13 and earlier) falls
    * back to the manifest file's mtime, which the atomic-link publish
    * makes an honest commit time on a filesystem. */
  def commitTime(root: String, v: Int): Long = {
    val f = versionFile(root, v)
    "\"ts\":(\\d+)".r.findFirstMatchIn(Files.readString(f))
      .map(_.group(1).toLong)
      .getOrElse(Files.getLastModifiedTime(f).toMillis)
  }

  /** TIMESTAMP time travel (Delta's `timestampAsOf`): the newest
    * retained version committed at or before `tsMillis`, or None when
    * the table's oldest retained commit is already newer. Commit
    * stamps are monotonic per root (see writeManifest), so the answer
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
        val f = versionFile(root, v)
        val raw = Files.readString(f)
        val ts = tsOf(raw)
          .getOrElse(Files.getLastModifiedTime(f).toMillis)
        // ADVICE r15: one newer-format manifest must not blank the
        // whole listing — history is the incident tool for exactly
        // the mixed-version-writer situation mverGuard detects.
        // Surface the refused version as a row instead of throwing
        // (commitTime/versionAsOf already read such stamps fine).
        val readable =
          try { mverGuard(root, v, raw); true }
          catch { case _: IllegalStateException => false }
        if (!readable) {
          val mv = "\"mver\":(\\d+)".r.findFirstMatchIn(raw)
            .map(_.group(1)).getOrElse("?")
          Some(CommitInfo(v, new java.sql.Timestamp(ts),
            s"unreadable:mver=$mv", KindUnstamped, None, None, 0, 0,
            is_delta = false))
        } else {
          val txt = raw
          Some(CommitInfo(v, new java.sql.Timestamp(ts),
            "\"op\":\"([a-z_]+)\"".r.findFirstMatchIn(txt)
              .map(_.group(1)).getOrElse(""),
            stringFieldOf(txt, "wkind").getOrElse(KindUnstamped),
            "\"txn\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong),
            "\"nparts\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt),
            if (txt.contains("\"parts\":")) partsOf(txt).size
            else flatDirsOf(txt).size,
            dropsOf(txt).size,
            baseOf(txt).isDefined))
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
    * manifests pass the exact runtime type the writer used. Flat
    * tables have no key layout — this refuses; use readAt + filter. */
  def readKey(spark: SparkSession, root: String, pk: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val head = versions(root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val pm = manifestParts(root, head)
    val p = partCountAt(root, head).getOrElse(
      throw new IllegalStateException(
        s"$root has no partition-count stamp — point lookups need the " +
          "key-hash layout (readAt + filter scans flat tables)"))
    val schema = manifestSchema(spark, root, head)
    val keyLit = schema.flatMap(_.fields.find(_.name == pk))
      .map(f => lit(value).cast(f.dataType)).getOrElse(lit(value))
    // one-row local projection: evaluates the SAME codegen'd hash the
    // writers use — never reimplement the key→pid arithmetic
    val label = spark.range(1)
      .select(pmod(hash(keyLit), lit(p)).cast("int")).head().getInt(0)
    pm.get(label.toString) match {
      case None => readAt(spark, root, head).limit(0)
      case Some(dirs) =>
        val paths = dirs.map(rel => Paths.get(root, rel).toString)
        schema.map(spark.read.schema(_)).getOrElse(spark.read)
          .parquet(paths: _*)
          .filter(col(pk) === keyLit)
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
      val tid = stringFieldOf(txt, "tableid").getOrElse("")
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
      val next = head + 1
      val txt = mverGuard(root, toV,
        Files.readString(versionFile(root, toV)))
      val headTxt = mverGuard(root, head,
        Files.readString(versionFile(root, head)))
      // identity/provenance are INCARNATION state — carried from the
      // head like any commit; content/layout/schema come from toV
      val id = stringFieldOf(headTxt, "tableid")
      val follow = stringFieldOf(headTxt, "followsrc")
      val kinds = carryKinds(root, Some(headTxt))
      val tmp =
        if (txt.contains("\"parts\":") || txt.contains("\"base\":")) {
          val (pm, ps) = resolved(root, toV, txt)
          writeManifest(root, next, "restore", Nil, None,
            parts = Some(pm), schemaDdl = schemaDdlOf(txt),
            // from the text already in hand — no second multi-MB
            // manifest read on the restore path (review r14)
            nParts = "\"nparts\":(\\d+)".r.findFirstMatchIn(txt)
              .map(_.group(1).toInt),
            tableId = id,
            followSrc = follow, pStats = Some(ps), kinds = kinds,
            prevTs = tsOf(headTxt))
        } else
          writeManifest(root, next, "restore", flatDirsOf(txt), None,
            tableId = id, followSrc = follow, kinds = kinds,
            prevTs = tsOf(headTxt))
      publish(root, next, tmp)
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
      keys: DataFrame, tasksPerWrite: Int = 0,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    require(keys.columns.contains(pk),
      s"keys frame must carry the key column '$pk'")
    rebasing(headMoved) {
      val head = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val pm = manifestParts(root, head)
      val p = partCountAt(root, head).getOrElse(
        throw new IllegalStateException(
          s"$root has no key-hash layout — delete on flat tables by " +
            "overwrite commit"))
      require(pm.nonEmpty, s"$root v$head is unpartitioned")
      val schema = manifestSchema(spark, root, head)
      // hash with the table's OWN pk type: Spark's hash is
      // type-sensitive (hash(1) != hash(1L)), so a caller's Int
      // keys against a BIGINT column would prune to the WRONG
      // partitions and the erasure would silently delete nothing.
      // Tables without a stored manifest schema (the fixed-schema
      // targets) sample one partition dir's parquet footer — one
      // footer read, not a table listing (review r14).
      val pkType = schema.flatMap(_.fields.find(_.name == pk)
        .map(_.dataType)).getOrElse {
        val sample = Paths.get(root, pm.values.flatten.head).toString
        spark.read.parquet(sample).schema.fields.find(_.name == pk)
          .map(_.dataType).getOrElse(throw new IllegalArgumentException(
            s"$root has no column '$pk'"))
      }
      val k = keys.select(col(pk).cast(pkType).as(pk)).distinct()
        .withColumn(PidCol, keyPid(pk, p)).persist()
      try {
        val candidates = touchedPids(k).toSeq
          .map(_.toString).filter(pm.contains).sorted
        if (candidates.isEmpty) return (0L, Nil)
        val dirs = candidates.flatMap(pm(_))
        val existing = readWithPid(spark, root, dirs, schema).persist()
        try {
          // hit pids AND the doomed-row count from ONE aggregation
          // over the semi-join (review r14)
          val hitCounts = existing
            .join(k.select(col(pk)), Seq(pk), "left_semi")
            .groupBy(PidCol).count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          if (hitCounts.isEmpty) return (0L, Nil)
          val hit = hitCounts.keySet
          val survivors = existing
            .filter(col(PidCol).isInCollection(hit.toSeq))
            .join(k.select(col(pk)), Seq(pk), "left_anti")
          commitErasure(root, head, survivors, hit, Some(p),
            schema.map(_.toDDL), tasksPerWrite, meter, pipeline)
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
      tasksPerWrite: Int = 0,
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
    withHeadScan(spark, root, "update") {
      (head, _, schema, existing) =>
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
            .filter(col(PidCol).isInCollection(hit.toSeq))
            .select(existing.columns.toSeq.map { c =>
              set.get(c).map(e =>
                when(matched, e.cast(types(c))).otherwise(col(c)).as(c))
                .getOrElse(col(c))
            }: _*)
          commitErasure(root, head, rewritten, hit,
            partCountAt(root, head), schema.map(_.toDDL), tasksPerWrite,
            meter, pipeline)
          (hitCounts.values.sum, hit.toSeq.map(_.toString).sorted)
        }
    }
  }

  /** Shared shell for the predicate DML ops: resolve the head,
    * require a partitioned manifest, full-scan-read it with pid
    * recovery, and persist it for the body's multiple passes. The
    * whole attempt, body included, re-runs on a head race
    * ([[rebasing]]). */
  private def withHeadScan(spark: SparkSession, root: String, what: String)(
      body: (Int, Map[String, Seq[String]],
        Option[org.apache.spark.sql.types.StructType], DataFrame)
        => (Long, Seq[String])): (Long, Seq[String]) =
    rebasing(headMoved) {
      val head = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val pm = manifestParts(root, head)
      require(pm.nonEmpty,
        s"$root v$head is unpartitioned — $what flat tables by " +
          "overwrite commit")
      val schema = manifestSchema(spark, root, head)
      val existing = readWithPid(spark, root,
        pm.values.flatten.toSeq.sorted, schema).persist()
      try body(head, pm, schema, existing)
      finally existing.unpersist()
    }

  /** Hit-partition reader shared by the erasure ops: the given
    * relative dirs under the (optional) manifest schema, with the
    * partition label recovered from the file path (the
    * stagePartitioned layout invariant, as compactPartitions does). */
  private def readWithPid(spark: SparkSession, root: String,
      dirs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val paths = dirs.map(rel => Paths.get(root, rel).toString)
    schema.map(spark.read.schema(_)).getOrElse(spark.read)
      .parquet(paths: _*)
      .withColumn(PidCol, regexp_extract(
        col("_metadata.file_path"), "/pid=(\\d+)/", 1).cast("int"))
  }

  /** Shared erasure tail (review r14 — one body so the metering,
    * emptied-label, and checkpoint rules can never drift between the
    * two delete ops): stage the surviving rows of the hit partitions,
    * drop labels left empty, and publish as a CHECKPOINT commit —
    * retention can then drop every pre-delete manifest at the next
    * expire instead of keeping them as delta ancestry, so the erasure
    * completes on the retention cadence, not the checkpoint
    * interval's (Delta's checkpoint-then-clean shape). */
  private def commitErasure(root: String, head: Int,
      survivors: DataFrame, hit: Set[Int], nParts: Option[Int],
      schemaDdl: Option[String], tasksPerWrite: Int,
      meter: Option[graft.streaming.EgressMeter], pipeline: String): Unit = {
    val staged = stagePartitioned(survivors, root, PidCol, tasksPerWrite)
    meter.foreach(_.add(pipeline, root, "table_copy",
      stagedPartBytes(root, staged)))
    val emptied = hit.map(_.toString) -- staged.keySet
    commitPartitionsOnce(staged, root, head, dropParts = emptied,
      nParts = nParts, schemaDdl = schemaDdl, forceCheckpoint = true)
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
      cond: org.apache.spark.sql.Column, tasksPerWrite: Int = 0,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    withHeadScan(spark, root, "delete on") {
      (head, _, schema, existing) =>
        val matched = coalesce(cond, lit(false))
        // hit pids AND the doomed-row count from ONE aggregation
        val hitCounts = existing.filter(matched).groupBy(PidCol).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        if (hitCounts.isEmpty) (0L, Nil)
        else {
          val hit = hitCounts.keySet
          val survivors = existing
            .filter(col(PidCol).isInCollection(hit.toSeq))
            .filter(not(matched))
          commitErasure(root, head, survivors, hit,
            partCountAt(root, head), schema.map(_.toDDL), tasksPerWrite,
            meter, pipeline)
          (hitCounts.values.sum, hit.toSeq.map(_.toString).sorted)
        }
    }
  }

  /** Compaction (the OPTIMIZE analog): rewrite the current snapshot's
    * accumulated append dirs into one dir of `numFiles` files and
    * publish it as a normal commit — data-identical, so readers are
    * indifferent to when it runs. At scale the FILE COUNT from
    * micro-batch appends, not bytes, is what kills
    * listing/open/task-launch — compaction is the sink-side
    * maintenance loop. Old versions still reference the small files
    * until [[vacuum]] after their retention lapses.
    *
    * Race semantics: a compaction must publish a snapshot that is
    * data-identical to SOME committed version — so on a lost commit
    * race it cannot simply retry at the new head (the staged rewrite
    * predates the racer's commit; overwriting with it would DROP the
    * racer's rows from latest). Instead each attempt re-resolves the
    * current version and restages from it: the racer always wins,
    * compaction rebases. Partitioned tables refuse here — their
    * layout and manifest schema must survive compaction, which is
    * [[compactPartitions]]' job. */
  def compact(spark: SparkSession, root: String, numFiles: Int = 1,
      maxAttempts: Int = CommitAttempts): Int =
    rebasing(headMoved, maxAttempts) {
      val base = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      if (manifestParts(root, base).nonEmpty)
        throw new IllegalStateException(
          s"$root v$base is partitioned; compact() would flatten its " +
            "layout and drop its manifest schema — use compactPartitions()")
      val df = readAt(spark, root, base).coalesce(numFiles)
      commitOnce(df, root, overwrite = true, expected = base,
        writerKind = KindMaintenance)
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
    * [[stagePartitioned]]), so no knowledge of the writer's key→pid
    * hash is needed. Each attempt re-resolves the head manifest and
    * restages from it; [[rebasing]] re-runs it on a head race (the
    * lost attempt's staged dirs become vacuum debris). Returns the
    * rewritten partition labels (empty = nothing over budget, no
    * commit). */
  def compactPartitions(spark: SparkSession, root: String,
      maxFilesPerPart: Int = 1, tasksPerWrite: Int = 0,
      maxAttempts: Int = CommitAttempts,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Seq[String] = {
    def parquetFiles(rel: String): Int = {
      val s = Files.walk(Paths.get(root, rel))
      try s.iterator.asScala.count(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    // the WHOLE attempt rebases: the base's manifest (or its small
    // files) can be expired/vacuumed by a maintenance racer between
    // the versions() listing and any read below
    rebasing(headMoved, maxAttempts) {
      val base = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val pm = manifestParts(root, base)
      require(pm.nonEmpty,
        s"$root v$base is unpartitioned; use compact()")
      // budget check from stamped manifest stats when present —
      // O(P) metadata instead of an O(table files) stat walk;
      // unstamped labels (pre-stamp manifests) walk once
      val stats = manifestPStatsAt(root, base)
      val over = pm.filter { case (k, ds) =>
        ds.size > 1 || stats.get(k).map(_._2)
          .getOrElse(ds.map(parquetFiles).sum) > maxFilesPerPart }
      if (over.isEmpty) return Nil
      val schema = manifestSchema(spark, root, base)
      val dirs = over.values.flatten.toSeq.sorted
        .map(rel => Paths.get(root, rel).toString)
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
      // recovery column uses the RESERVED name: a data column named
      // "pid" is legal and must not be clobbered by the path-derived
      // partition label
      val df = reader.parquet(dirs: _*)
        .withColumn(PidCol, regexp_extract(
          col("_metadata.file_path"), "/pid=(\\d+)/", 1).cast("int"))
      val staged = stagePartitioned(df, root, PidCol, tasksPerWrite)
      // meter per attempt: a lost race's staged dirs are real bytes
      // physically written (vacuum reclaims files, not the bill) —
      // same accounting rule as commitOnce's table_copy path
      meter.foreach(_.add(pipeline, root, "table_copy",
        stagedPartBytes(root, staged)))
      commitPartitionsOnce(staged, root, base,
        schemaDdl = schema.map(_.toDDL), writerKind = KindMaintenance,
        forceCheckpoint = true)
      over.keys.toSeq.sorted
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
      newP: Int, tasksPerWrite: Int = 0, maxAttempts: Int = CommitAttempts,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Int = {
    require(newP > 0, "newP must be positive")
    rebasing(headMoved, maxAttempts) {
      awaitWriters(root)
      val base = versions(root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val pm = manifestParts(root, base)
      require(pm.nonEmpty,
        s"$root v$base is unpartitioned; rescale applies to partitioned " +
          "tables (seed one with commitPartitions)")
      val schema = manifestSchema(spark, root, base)
      val dirs = pm.values.flatten.toSeq.sorted
        .map(rel => Paths.get(root, rel).toString)
      val reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
      val df = reader.parquet(dirs: _*)
      require(!df.columns.contains(PidCol),
        s"'$PidCol' is the reserved internal partition column")
      val staged = stagePartitioned(
        df.withColumn(PidCol, keyPid(pk, newP)), root, PidCol, tasksPerWrite)
      // per attempt, like compactPartitions: a lost race's staged
      // dirs are bytes physically written (vacuum reclaims files,
      // not bills)
      meter.foreach(_.add(pipeline, root, "table_copy",
        stagedPartBytes(root, staged)))
      commitPartitionsOnce(staged, root, base,
        overwriteAll = true, schemaDdl = schema.map(_.toDDL),
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
      targetBytesPerPart: Long, tasksPerWrite: Int = 0,
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
        val p = partCountAt(root, head).getOrElse(return None)
        val pm = manifestParts(root, head)
        if (pm.isEmpty) return None
        // stamped stats make the trigger an O(P) manifest read; a
        // table whose manifests predate the stamp pays the walk until
        // its next commit re-stamps it
        val stats = manifestPStatsAt(root, head)
        val total =
          if (pm.keySet.subsetOf(stats.keySet))
            pm.keysIterator.map(stats(_)._1).sum
          else pm.values.flatten.map(stagedBytes(root, _)).sum
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
      rescalePartitions(spark, root, pk, newP, tasksPerWrite,
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
      keepLast: Int = 1, tasksPerWrite: Int = 0,
      vacuumGraceMillis: Long = 20 * 60 * 1000L,
      meter: Option[graft.streaming.EgressMeter] = None,
      pipeline: String = "default"): Maintenance = {
    val rescaled = rescaleIfNeeded(spark, root, pk, targetBytesPerPart,
      tasksPerWrite, meter = meter, pipeline = pipeline)
    val compacted =
      if (rescaled.isDefined) Nil
      else compactPartitions(spark, root, maxFilesPerPart, tasksPerWrite,
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
    * PARTITION-PRUNED: for partitioned manifests only the partitions
    * whose dir set CHANGED between the two versions are read (an
    * untouched partition cannot contain a changed row — its files are
    * write-once), so the scan is O(changed partitions), table-size
    * independent — the property that makes a change feed usable at
    * 100 TB. Flat manifests fall back to a full two-snapshot diff.
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
    * true row removal by overwrite commits.) */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
      pk: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val vs = versions(root)
    Seq(fromV, toV).foreach(v => require(vs.contains(v),
      s"$root has no retained version $v (expired or never committed) — " +
        "re-bootstrap from a full snapshot (TableFollower does this " +
        "automatically)"))
    val pmFrom = manifestParts(root, fromV)
    val pmTo = manifestParts(root, toV)
    val schema = manifestSchema(spark, root, toV)
    def readDirs(rels: Seq[String]): Option[DataFrame] =
      if (rels.isEmpty) None
      else {
        val paths = rels.map(rel => Paths.get(root, rel).toString)
        Some(schema.map(spark.read.schema(_)).getOrElse(spark.read)
          .parquet(paths: _*))
      }
    val (oldDf, newDf) =
      if (pmFrom.nonEmpty && pmTo.nonEmpty) {
        // prune: a label reads only if its dir set moved (covers
        // replaced, added, and removed partitions)
        val labels = (pmFrom.keySet ++ pmTo.keySet)
          .filter(l => pmFrom.get(l) != pmTo.get(l)).toSeq.sorted
        (readDirs(labels.flatMap(pmFrom.getOrElse(_, Nil))),
          readDirs(labels.flatMap(pmTo.getOrElse(_, Nil))))
      } else
        // flat (or migration-boundary) fallback: full two-snapshot
        // diff, both sides still under toV's schema via readDirs
        (readDirs(manifestDirs(root, fromV)),
          readDirs(manifestDirs(root, toV)))
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

  /** Manifest text of `v`, live or mid-condemnation — what lets the
    * pin walk resolve a tag whose chain this very pass condemned. */
  private def versionTxt(root: String, v: Int): String = {
    val f = versionFile(root, v)
    val txt =
      if (Files.exists(f)) Files.readString(f)
      else Files.readString(condemnFile(root, v))
    mverGuard(root, v, txt)
  }

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
      def chainRoot(v: Int): Int = {
        var f = v
        var txt = versionTxt(root, f)
        while (baseOf(txt).isDefined) {
          f = baseOf(txt).get
          txt = versionTxt(root, f)
        }
        f
      }
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
    // Flat manifests and chain roots fall back to their own full
    // parse, exactly what resolution would do.
    val live: Set[String] =
      try {
        val acc = Set.newBuilder[String]
        var running: Option[(Int, Map[String, Seq[String]])] = None
        val walked = Set.newBuilder[Int]
        versions(root).foreach { v =>
          walked += v
          val txt = mverGuard(root, v, Files.readString(versionFile(root, v)))
          if (txt.contains("\"parts\":") || txt.contains("\"base\":")) {
            (baseOf(txt), running) match {
              case (Some(b), Some((rv, rm))) if rv == b =>
                // the base's dirs are already in acc (it is itself a
                // retained version the loop visited): only THIS
                // delta's own labels add — truly O(touched); a label
                // it drops stays live through the earlier versions
                // that reference it, which is exactly the union the
                // live set wants
                running = Some((v, applyDelta(rm, txt)))
                acc ++= partsOf(txt).values.flatten
              case _ =>
                val pm = resolved(root, v, txt)._1
                running = Some((v, pm))
                acc ++= pm.values.flatten
            }
          } else {
            running = None
            acc ++= flatDirsOf(txt)
          }
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
              val txt = Files.readString(p)
              if (txt.contains("\"parts\":") || txt.contains("\"base\":"))
                acc ++= partsOf(txt).values.flatten
              else acc ++= flatDirsOf(txt)
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
          val txt = mverGuard(root, v, Files.readString(versionFile(root, v)))
          if (txt.contains("\"parts\":") || txt.contains("\"base\":"))
            acc ++= resolved(root, v, txt)._1.values.flatten
          else acc ++= flatDirsOf(txt)
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
    // a partitioned manifest references pid= SUBDIRS of a uuid dir —
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
