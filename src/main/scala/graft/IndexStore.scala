package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Cross-session persistence for the expensive dedup/ANN intermediates
  * (LSH pair table, cluster map, span tables, standing blooms, PQ
  * codebooks, IVF postings).
  *
  * Why it exists: every one of those tables is "the thing a 100 TB
  * pipeline materializes ONCE and every consumer reads" — but a
  * session-keyed memo makes "once" mean "once per JVM". A restarted
  * job would redo hours of LSH/CC/Lloyd work. With an index root
  * configured (`spark.graft.index.dir`), the first builder WRITES the
  * intermediate to parquet under
  * `<root>/<corpus-key>/<index-name>/data` and every later session
  * LOADS it — the session memos in Dedup/Similarity/IvfIndex become
  * a read-through cache over this store. Unset (the default, and what
  * the driver's Verify/Bench run), behavior is exactly the session-memo
  * DISK_ONLY persist it always was.
  *
  * Freshness: an index answers for the corpus it was built from, so
  * each persisted index carries a fingerprint of its source table —
  * a content part (row count + max id + an order-independent xxhash64
  * over a deterministic ~1% id-sample; one map-only scan, memoized
  * per session) PLUS a file-level footprint (data-file count + bytes
  * + max mtime from one FileSystem listing, re-checked on every
  * resolve — it catches what the sample can't see, including
  * in-place edits of non-sampled rows and same-session corpus
  * mutations). On load, a mismatched fingerprint fails LOUDLY
  * (`spark.graft.index.ifStale=error`, the default) instead of
  * serving clusters for documents that no longer exist; `=rebuild`
  * overwrites in place. Crash-consistency is write-data-then-meta
  * with the meta published by ATOMIC rename: a build that dies
  * mid-write leaves no (or the old) `_GRAFT_META`, never a torn one,
  * and the next session rebuilds over the partial output (parquet
  * `overwrite`).
  *
  * Reference analog: the reference persists its own restart state
  * across runs (fileloader/fileloader.go:263-328 archival semantics);
  * this is the index-shaped version of the same contract.
  *
  * Concurrent writers on a shared root are guarded by a per-index
  * build lock (`_GRAFT_BUILD_LOCK`, atomic create-no-overwrite): the
  * second builder fails loudly instead of interleaving
  * overwrite-writes with the first. The 100 TB deployment still runs
  * index builds as a single-writer job; the lock turns an accidental
  * violation of that discipline into an error instead of corruption.
  */
object IndexStore {

  /** Root directory for persisted indexes; unset ⇒ session-memo only. */
  val RootKey = "spark.graft.index.dir"

  /** What to do when a persisted index's fingerprint mismatches the
    * corpus: `error` (default — fail loudly) or `rebuild`. */
  val IfStaleKey = "spark.graft.index.ifStale"

  /** Build-lock staleness threshold (ms). A lock whose mtime is older
    * than this is treated as a crashed builder's leftover and taken
    * over; live builders heartbeat the mtime at a quarter of this
    * interval, so a healthy build can never read as stale. */
  val LockStaleMsKey = "spark.graft.index.lockStaleMs"
  private val LockStaleMsDefault = 600000L

  def root(s: SparkSession): Option[String] =
    s.conf.getOption(RootKey).map(_.trim).filter(_.nonEmpty)

  /** Store decision for one (corpus dir, index name). */
  sealed trait Resolution
  /** No index root configured: build in-process, session-memo only. */
  case object Unmanaged extends Resolution
  /** A persisted copy with a matching fingerprint exists. */
  final case class Fresh(base: String) extends Resolution
  /** Nothing persisted (or stale under `ifStale=rebuild`): write the
    * payload under [[dataPath]]`(base)`, then call `commit()` to
    * publish the fingerprint meta. */
  final case class Build(base: String, commit: () => Unit) extends Resolution

  def dataPath(base: String): String = base + "/data"

  // the temp directories unmanaged builds write to; each is deleted
  // when the session memo entry that owns it is released
  private val unmanagedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A new temp directory for an [[Unmanaged]] build. Session-scoped by
    * design: the memo holding the build calls [[releaseUnmanaged]] when
    * it drops the entry (session end, a lost race, a replacement). */
  def unmanagedDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    unmanagedDirs.add(dir)
    dir
  }

  /** Delete `dir` if [[unmanagedDir]] made it; a store path is kept. */
  def releaseUnmanaged(dir: String): Unit =
    if (unmanagedDirs.remove(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Last store decision per (corpus dir, index name):
    * "built" | "loaded" | "rebuilt". For specs and ops visibility. */
  private[graft] val lastAction =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  // CONTENT fingerprints are one corpus scan each — memoize per
  // (session, dir, table) KEYED BY the file-level footprint they were
  // scanned under: every fingerprint() call re-lists the source files
  // (cheap — no data scan) and a changed footprint drops the memo and
  // rescans, so a corpus mutated mid-session can never keep resolving
  // against the stale first-touch fingerprint (the round-9 read-skew).
  private val fpCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (String, String)]
  SessionCaches.registerEvictor(s =>
    fpCache.keySet.toSeq.filter(_._1 eq s).foreach(fpCache.remove))

  /** Per-table id column for fingerprinting (the sampled hash covers
    * EVERY column — see below). The id need not be unique (lineitem):
    * count/max still catch appends and deletes. */
  private val fpIdCol = Map(
    "embeddings" -> "vec_id",
    "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey")

  /** File-level footprint of the table's parquet: data-file count,
    * total bytes, max modification time — ONE FileSystem listing, no
    * data scan. Hidden files (`_SUCCESS`, dotfiles) are excluded so a
    * bucket-policy touch of a marker can't flip it. */
  private def footprint(s: SparkSession, d: String, table: String): String = {
    val p = new Path(s"${d.stripSuffix("/")}/$table.parquet")
    val f = fs(s, p)
    if (!f.exists(p)) "0:0:0"
    else {
      var n = 0L; var bytes = 0L; var mt = 0L
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val nm = st.getPath.getName
        if (st.isFile && !nm.startsWith("_") && !nm.startsWith(".")) {
          n += 1; bytes += st.getLen()
          if (st.getModificationTime > mt) mt = st.getModificationTime
        }
      }
      s"$n:$bytes:$mt"
    }
  }

  /** Fingerprint of `table` under `d` = content part + file footprint.
    *
    * Content part: row count, max id, and a bit_xor of
    * `xxhash64(EVERY column)` over the deterministic `id % 101 == 0`
    * sample. Order-independent (xor) so partitioning doesn't matter;
    * content-sensitive across the WHOLE row — an index may read any
    * column (the trade graph reads o_custkey, the z-layout filters
    * l_suppkey and returns l_quantity), so hashing one designated
    * "content" column would let an in-place edit of an unhashed column
    * serve stale results marked fresh. Count/max catch appends,
    * deletes and re-ids. One map-only scan (full row width on the
    * sampled rows), memoized per session under the footprint it was
    * scanned at.
    *
    * File footprint (round-9 verdict #2/#3): the sampled hash is blind
    * to an in-place edit of a NON-sampled row that keeps count and
    * max(id) unchanged; the footprint (file count + bytes + max mtime,
    * one listing, no scan) closes that for file-based corpora — ANY
    * rewrite flips it. Deliberate consequence: a bit-identical rewrite
    * of the same data also reads as a new corpus (fail-loudly bias —
    * rebuilding an index for an unchanged-but-rewritten corpus is
    * cheap; serving a stale one is not). Re-listed on EVERY call, so a
    * same-session mutation invalidates the memoized content scan
    * instead of serving the first-touch fingerprint forever. */
  def fingerprint(s: SparkSession, d: String, table: String): String = {
    SessionCaches.track(s)
    val fpr = footprint(s, d, table)
    val key = (s, d, table)
    val content = fpCache.get(key) match {
      case Some((`fpr`, c)) => c
      case _ =>
        val df = Tables.load(s, d, table)
        val idCol = fpIdCol.getOrElse(table, "doc_id")
        val r = df
          .select(col(idCol).cast("long").as("id"),
            xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
          .agg(count(lit(1)).as("n"),
            coalesce(max(col("id")), lit(-1L)).as("mx"),
            coalesce(expr("bit_xor(CASE WHEN id % 101 = 0 THEN h END)"),
              lit(0L)).as("xr"))
          .head()
        val c =
          s"${r.getLong(0)}:${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}"
        fpCache.put(key, (fpr, c))
        c
    }
    s"v2:$content:$fpr"
  }

  /** Decide load-vs-build for index `name` of `table` under corpus `d`.
    * `table` may be a comma-list ("orders,lineitem") for indexes
    * derived from several source tables — the fingerprint is the join
    * of each table's, so a change in ANY source marks the index stale.
    * Most callers want [[dataFrame]]/[[bytes]]; `resolve` is for
    * payloads the caller writes itself (IVF's partitioned postings). */
  def resolve(s: SparkSession, d: String, name: String,
      table: String): Resolution = root(s) match {
    case None => Unmanaged
    case Some(r) =>
      val base = s"$r/${corpusKey(d)}/$name"
      val fp = table.split(",").map(t => fingerprint(s, d, t.trim))
        .mkString("|")
      readMeta(s, base) match {
        case Some(m) if m.getProperty("fingerprint") == fp =>
          lastAction((d, name)) = "loaded"
          Fresh(base)
        case Some(m) =>
          s.conf.get(IfStaleKey, "error") match {
            case "rebuild" =>
              acquireLock(s, base, name)
              Build(base, () => {
                verifyOwnership(s, base)
                writeMeta(s, base, name, table, fp)
                releaseLock(s, base)
                lastAction((d, name)) = "rebuilt"
              })
            case _ => throw new IllegalStateException(
              s"graft index '$name' at $base is STALE: it was built from " +
                s"a different version of $d/$table " +
                s"(stored fingerprint ${m.getProperty("fingerprint")}, " +
                s"current $fp). Serving it would answer for documents " +
                s"that changed. Delete the index directory to rebuild, " +
                s"or set $IfStaleKey=rebuild.")
          }
        case None =>
          acquireLock(s, base, name)
          Build(base, () => {
            verifyOwnership(s, base)
            writeMeta(s, base, name, table, fp)
            releaseLock(s, base)
            lastAction((d, name)) = "built"
          })
      }
  }

  /** Release a Build's lock after a FAILED build (the commit path
    * releases on success). Callers driving `resolve` themselves should
    * mirror the [[dataFrame]]/[[bytes]] pattern: commit on success,
    * abortBuild on exception. */
  def abortBuild(s: SparkSession, base: String): Unit = releaseLock(s, base)

  // Build lock: `<base>/_GRAFT_BUILD_LOCK`, created atomically
  // (create-no-overwrite), so two builders sharing an index root
  // cannot interleave overwrite-writes under one index dir — the
  // second fails LOUDLY instead of corrupting. Released by commit()
  // (or abortBuild after a failed build). A builder that crashed
  // between lock create and its try wrapper used to leave a PERMANENT
  // lock; now live builders heartbeat the lock mtime and a lock older
  // than the staleness threshold is reclaimed automatically
  // (age-based takeover), while a heartbeating peer still excludes.
  private def lockPath(base: String) = new Path(base, "_GRAFT_BUILD_LOCK")

  // Live-builder heartbeats: one shared daemon scheduler touches each
  // held lock's mtime at staleMs/4, so a healthy long build never
  // reads as stale while a crashed builder's lock ages past the
  // threshold and gets reclaimed.
  private lazy val heartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-index-lock-heartbeat")
      t.setDaemon(true)
      t
    })
  private val heldLocks = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.ScheduledFuture[_]]
  private val heldTokens = scala.collection.concurrent.TrieMap
    .empty[String, String]
  private val stolenLocks = scala.collection.concurrent.TrieMap
    .empty[String, Unit]
  private val loggedHeartbeatFailure = scala.collection.concurrent.TrieMap
    .empty[String, Unit]

  private def lockStaleMs(s: SparkSession): Long =
    s.conf.getOption(LockStaleMsKey).map(_.toLong)
      .getOrElse(LockStaleMsDefault)

  // Probed once per FileSystem URI: does setTimes actually advance an
  // OBSERVED mtime? On object stores setTimes is commonly a no-op or an
  // error, which silently breaks heartbeat liveness — a LIVE builder's
  // lock would age past the threshold and get reclaimed while it is
  // still writing. When the probe fails, age-based takeover is disabled
  // on that FS and a present lock is always diagnosed loudly (the
  // pre-heartbeat behavior): a permanent crashed lock needing a manual
  // delete beats publishing meta over a directory a live peer writes.
  private val setTimesWorks = scala.collection.concurrent.TrieMap
    .empty[String, Boolean]

  private def heartbeatWorks(f: org.apache.hadoop.fs.FileSystem,
      base: String): Boolean =
    setTimesWorks.getOrElseUpdate(f.getUri.toString, {
      val probe = new Path(base,
        s"_GRAFT_LOCK_PROBE_${java.util.UUID.randomUUID()}")
      try {
        val out = f.create(probe, false)
        out.close()
        // Aim 60s into the past — far beyond any FS timestamp
        // granularity (FAT is 2s) — and require the readback to land
        // within 5s of the target.
        val target = f.getFileStatus(probe).getModificationTime - 60000L
        f.setTimes(probe, target, -1)
        math.abs(f.getFileStatus(probe).getModificationTime - target) < 5000L
      } catch { case scala.util.control.NonFatal(_) => false }
      finally {
        try f.delete(probe, false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    })

  private def acquireLock(s: SparkSession, base: String,
      name: String): Unit = {
    val p = lockPath(base)
    val f = fs(s, p)
    val staleMs = lockStaleMs(s)
    f.mkdirs(new Path(base))

    val token = s"pid=${ProcessHandle.current().pid()} " +
      s"token=${java.util.UUID.randomUUID()}\n"
    def tryCreate(): Boolean =
      try {
        val out = f.create(p, false)
        try out.write(token.getBytes("UTF-8"))
        finally out.close()
        true
      } catch {
        // Only an actually-present lock file means "another builder".
        // Some FileSystems signal create-no-overwrite with the typed
        // FileAlreadyExistsException, others with a generic IOException —
        // so on a generic one, confirm the lock exists before diagnosing
        // concurrency; a transient FS error (permissions, network)
        // propagates as itself instead of masquerading as a build race.
        case e: java.io.IOException
            if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
              e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
              (try f.exists(p) catch { case _: java.io.IOException => false }) =>
          false
      }

    def ageMs: Long =
      try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime
      catch { case _: java.io.IOException => -1L }

    var acquired = tryCreate()
    if (!acquired) {
      val age = ageMs
      // Takeover is only safe when heartbeats are OBSERVABLE on this
      // FileSystem — otherwise a live builder's lock looks exactly like
      // a dead one's and "stale" means nothing.
      if (age > staleMs && heartbeatWorks(f, base)) {
        // dead-builder takeover: the holder stopped heartbeating for
        // longer than the threshold (a live build touches the mtime at
        // staleMs/4). Re-check the age right before deleting to keep
        // the delete-vs-fresh-recreate race window minimal; if another
        // taker wins the re-create, our create fails and we diagnose
        // THEIR fresh lock below.
        if (ageMs > staleMs) {
          try f.delete(p, false) catch { case _: java.io.IOException => () }
          acquired = tryCreate()
        }
      }
      if (!acquired) {
        val reclaimNote =
          if (heartbeatWorks(f, base))
            "a crashed builder's lock is reclaimed automatically once " +
              s"it ages past the threshold (configure with $LockStaleMsKey)."
          else
            "this FileSystem does not support observable mtime updates " +
              "(setTimes probe failed), so age-based reclaim is DISABLED " +
              "— if the holder crashed, delete the lock file manually."
        throw new IllegalStateException(
          s"graft index at $base ('$name') is being BUILT by another " +
            s"process (lock $p, age ${ageMs}ms, stale threshold " +
            s"${staleMs}ms). Concurrent builders would interleave " +
            "overwrite-writes and corrupt the index; " + reclaimNote)
      }
    }
    heldTokens.put(base, token)
    stolenLocks.remove(base)
    // Heartbeat while held: touch the mtime AND verify ownership — if
    // the file's content is no longer OUR token, a concurrent taker won
    // the (tiny) delete/recreate race two stale-observers can enter;
    // flag it so commit() fails loudly instead of publishing meta over
    // a directory another builder is also writing. Catch NonFatal, not
    // just IOException: a FileSystem whose setTimes throws something
    // else would otherwise permanently cancel the scheduled task
    // (ScheduledExecutor suppresses a task after any throw) and let a
    // LIVE builder's lock age into a takeover.
    val period = math.max(staleMs / 4, 50L)
    heldLocks.put(base, heartbeats.scheduleAtFixedRate(
      () => try {
        val current = readLock(f, p)
        if (current != null && current != token) stolenLocks.put(base, ())
        else f.setTimes(p, System.currentTimeMillis(), -1)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // keep the task alive, but don't discard the evidence: a
          // persistently-failing heartbeat is exactly the signal that
          // explains a later takeover/stolen-lock diagnosis (logged once
          // per base — the beat fires every staleMs/4)
          if (loggedHeartbeatFailure.putIfAbsent(base, ()).isEmpty)
            System.err.println(
              s"[graft] index lock heartbeat failed for $base: $e")
      },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS))
      .foreach(_.cancel(false))
  }

  private def readLock(f: org.apache.hadoop.fs.FileSystem, p: Path): String =
    try {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Loud-failure guard for the commit path: if our lock was taken
    * over mid-build (the takeover race both-stale-observers window),
    * the index directory may carry interleaved writes — refuse to
    * publish meta over it. */
  private def verifyOwnership(s: SparkSession, base: String): Unit = {
    val stolenByFlag = stolenLocks.contains(base)
    val stolenNow = heldTokens.get(base).exists { tok =>
      val current = readLock(fs(s, lockPath(base)), lockPath(base))
      current != null && current != tok
    }
    if (stolenByFlag || stolenNow)
      throw new IllegalStateException(
        s"graft index build at $base lost its lock to a concurrent " +
          "takeover (this builder read as stale to a peer); the data " +
          "directory may carry interleaved writes — NOT publishing. " +
          "Delete the index directory and rebuild single-writer.")
  }

  private def releaseLock(s: SparkSession, base: String): Unit = {
    heldLocks.remove(base).foreach(_.cancel(false))
    heldTokens.remove(base)
    stolenLocks.remove(base)
    val p = lockPath(base)
    fs(s, p).delete(p, false)
  }

  /** Read-through for a DataFrame-valued index. Managed: load the
    * persisted parquet, or build → write → re-read (so every consumer,
    * including the builder, reads the materialized table — shorter
    * lineage, no double storage via an extra persist). Unmanaged: the
    * historical session-memo shape (build + DISK_ONLY persist; callers
    * memoize the result per session). */
  def dataFrame(s: SparkSession, d: String, name: String, table: String,
      persistWhenUnmanaged: Boolean = true,
      eagerWhenUnmanaged: Boolean = false)(build: => DataFrame): DataFrame =
    resolve(s, d, name, table) match {
      case Unmanaged =>
        val df = build
        val p = if (persistWhenUnmanaged) df.persist(StorageLevel.DISK_ONLY) else df
        // eager: materialize the unmanaged persist NOW (iterative
        // consumers scan it repeatedly); managed loads are already
        // materialized parquet, so no extra pass happens there
        if (eagerWhenUnmanaged && persistWhenUnmanaged) p.count()
        p
      case Fresh(base) => s.read.parquet(dataPath(base))
      case Build(base, commit) =>
        try {
          build.write.mode("overwrite").parquet(dataPath(base))
          commit()
        } catch {
          case t: Throwable => abortBuild(s, base); throw t
        }
        s.read.parquet(dataPath(base))
    }

  /** Read-through for a driver-side blob index (serialized blooms):
    * stored as a raw file at `<base>/data.bin`. */
  def bytes(s: SparkSession, d: String, name: String, table: String)(
      build: => Array[Byte]): Array[Byte] =
    resolve(s, d, name, table) match {
      case Unmanaged => build
      case Fresh(base) =>
        val p = new Path(base, "data.bin")
        val in = fs(s, p).open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          out.toByteArray
        } finally in.close()
      case Build(base, commit) =>
        try {
          val b = build
          val p = new Path(base, "data.bin")
          val out = fs(s, p).create(p, true)
          try out.write(b) finally out.close()
          commit()
          b
        } catch {
          case t: Throwable => abortBuild(s, base); throw t
        }
    }

  // ---- "current" alias: pointer-file indirection --------------------
  //
  // A drift rebuild (IvfIndex.rebuildIfDrifted) publishes the rebuilt
  // index under its OWN store lineage ("ivf8r") so the drifted index
  // serves until commit — but a standing reader that resolved the old
  // handle would keep probing the drifted index until the caller
  // re-plumbs it. The alias closes that: a pointer file
  // `<root>/<corpusKey>/_GRAFT_CURRENT_<alias>` names the store
  // (index name) currently serving the alias, published by the same
  // write-temp-then-ATOMIC-rename discipline as _GRAFT_META and
  // written only AFTER the target index's own commit — so a crash
  // anywhere mid-rebuild leaves the pointer on the old index (the
  // reader-visible state is always a fully-committed index), and a
  // reader re-reading the pointer (one tiny file read per resolve)
  // picks up a rebuild atomically with no handle re-plumbing.

  private def currentPath(s: SparkSession, d: String, alias: String) =
    root(s).map(r =>
      new Path(s"$r/${corpusKey(d)}", s"_GRAFT_CURRENT_$alias"))

  /** The store name the alias currently points at, or None (no root
    * configured, or the alias was never published). */
  def readCurrent(s: SparkSession, d: String, alias: String): Option[String] =
    currentPath(s, d, alias).flatMap { p =>
      val f = fs(s, p)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
          .filter(_.nonEmpty)
        finally in.close()
      }
    }

  /** Atomically point the alias at store `target`. No-op without an
    * index root. Call AFTER the target index's commit — the pointer
    * must never lead a reader to an uncommitted index. */
  def writeCurrent(s: SparkSession, d: String, alias: String,
      target: String): Unit =
    currentPath(s, d, alias).foreach { p =>
      val f = fs(s, p)
      f.mkdirs(p.getParent)
      val tmp = new Path(p.getParent,
        s"${p.getName}.tmp.${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(target.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, s.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Non-acquiring freshness peek: Some(base) when a persisted `name`
    * exists with a fingerprint matching the current corpus; None when
    * nothing is persisted (or no root). A STALE index throws loudly
    * regardless of `ifStale` — a pointer target must never be silently
    * rebuilt or silently served stale by a mere reader. */
  def peekFresh(s: SparkSession, d: String, name: String,
      table: String): Option[String] = root(s).flatMap { r =>
    val base = s"$r/${corpusKey(d)}/$name"
    readMeta(s, base).map { m =>
      val fp = table.split(",").map(t => fingerprint(s, d, t.trim))
        .mkString("|")
      if (m.getProperty("fingerprint") != fp)
        throw new IllegalStateException(
          s"graft index '$name' at $base is STALE: it was built from a " +
            s"different version of $d/$table. Serving it would answer " +
            "for documents that changed; rebuild it (or repoint the " +
            "alias) before reading.")
      base
    }
  }

  /** Stable, path-safe key for a corpus dir: basename + a short hash of
    * the full path (two dirs with the same basename don't collide). */
  private def corpusKey(d: String): String = {
    val norm = d.stripSuffix("/")
    val base = norm.substring(norm.lastIndexOf('/') + 1)
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
    base + "-" + md.take(4).map("%02x".format(_)).mkString
  }

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def metaPath(base: String) = new Path(base, "_GRAFT_META")

  private def readMeta(s: SparkSession,
      base: String): Option[java.util.Properties] = {
    val p = metaPath(base)
    val f = fs(s, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val pr = new java.util.Properties()
        pr.load(in)
        Some(pr)
      } finally in.close()
    }
  }

  // Meta publication is write-temp-then-ATOMIC-rename: a reader can
  // never observe a half-written _GRAFT_META (it sees the old one, or
  // none, or the new one — each of which resolves correctly).
  private def writeMeta(s: SparkSession, base: String, name: String,
      table: String, fp: String): Unit = {
    val p = metaPath(base)
    val tmp = new Path(base,
      s"_GRAFT_META.tmp.${java.util.UUID.randomUUID()}")
    val out = fs(s, tmp).create(tmp, true)
    try {
      val pr = new java.util.Properties()
      pr.setProperty("formatVersion", "2")
      pr.setProperty("name", name)
      pr.setProperty("sourceTable", table)
      pr.setProperty("fingerprint", fp)
      pr.store(out, "graft persisted-index metadata")
    } finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, s.sparkContext.hadoopConfiguration)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
