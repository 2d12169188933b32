package graft.sources

/** The fingerprint-once publish protocol shared by every staged
  * fixture writer (JSONL, zstd-JSONL, ORC, Avro, WARC): the corpus
  * lands under `root/<safe-name>__fp<hex>`, stale siblings from an
  * older fingerprint are deleted first, the write goes to a hidden
  * tmp dir and publishes via atomic rename, `_SUCCESS` marks a
  * complete publish, and a lost rename race keeps whichever full
  * write landed. ONE implementation — the five writers carried
  * near-identical copies whose `_SUCCESS` handling had already
  * started to drift (Spark committers write the marker themselves;
  * hand-rolled writers must create it), so a protocol fix applied to
  * one copy would silently miss the rest.
  */
// private[graft] (not [sources]): specs outside graft.sources drive
// the dead-pid tmp sweep directly — still invisible outside the
// library.
private[graft] object Staging {

  private[sources] def safeName(name: String): String =
    name.map(c => if (c.isLetterOrDigit || c == '.' || c == '-') c else '_')

  private[sources] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** The per-partition shard file `part-NNNNN.<ext>` of the current
    * task — ONE definition of the naming/truncate discipline the
    * hand-rolled writers (zstd-JSONL, Avro, WARC) previously copied
    * (a pad-width or durability fix must not need re-applying per
    * writer).
    */
  private[sources] def partFile(tmpPath: String,
                                ext: String): java.io.File = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    new java.io.File(tmpPath, f"part-$pid%05d.$ext")
  }

  /** Crashed-run tmp dirs (`.<safe>__fp*.tmp-<pid>-<nanos>`): a
    * killed publisher leaks a full corpus copy per attempt, and the
    * per-attempt-unique names match neither the stale-sibling filter
    * (which only sees `<safe>__fp` prefixes) nor any rename, so
    * nothing else ever reclaims them. Swept at the top of every
    * publish, SKIPPING entries whose embedded pid is still alive —
    * a live concurrent publisher's in-flight tmp must not be deleted
    * from under its write.
    *
    * SINGLE-HOST assumption (the whole protocol's, lock included):
    * liveness is a LOCAL ProcessHandle probe and the lock a local
    * FileLock, so a staging root shared between machines (NFS) could
    * see host B sweep host A's in-flight tmp because A's pid doesn't
    * exist on B. The staging roots live under this repo's local
    * `target/`; a multi-host staging root would need lease files, not
    * pid probes.
    */
  private def sweepDeadTmp(root: java.io.File, safe: String): Unit =
    // nanos may be NEGATIVE (System.nanoTime has an arbitrary
    // origin) — a `\d+` suffix pattern would never match such a
    // name, hiding exactly the remnants this sweep exists to reclaim
    sweepDeadTmpMatching(root,
      ("""^\.""" + java.util.regex.Pattern.quote(safe) +
        """__fp[0-9a-f]+\.tmp-(\d+)--?\d+$""").r)

  /** The dead-pid tmp sweep with a caller-supplied name pattern
    * (ONE capture group: the embedded pid), so a writer whose tmp
    * names differ only in prefix shape reuses the liveness/
    * pid-recycling rules instead of re-deriving them.
    */
  private[graft] def sweepDeadTmpMatching(
      root: java.io.File, TmpName: scala.util.matching.Regex): Unit = {
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case TmpName(pid) =>
          // pid RECYCLING: isAlive matches ANY live process with that
          // pid, so a remnant whose pid was reused by an unrelated
          // long-lived process would never be reclaimed. The writer
          // necessarily STARTED before it created the tmp dir, and a
          // directory's mtime only moves when entries are added — so
          // a live writer always has startInstant ≤ dir mtime, and a
          // process whose start is clearly AFTER the dir's last entry
          // change is a recycler, not the writer (2 s margin covers
          // fs timestamp granularity and clock steps). When the
          // platform exposes no start time, fall back to age: a tmp
          // dir untouched for 24 h outlives any publish this
          // single-host protocol runs.
          // `rule` names which liveness rule justified a reclaim so
          // a surprising sweep is diagnosable from the log line
          // alone: "dead-pid" (no live process), "recycled-start"
          // (live pid but started after the dir's last write), or
          // "age-fallback" (no start time exposed, dir >24 h stale —
          // the one rule that can reclaim a stalled-but-alive
          // writer's tmp).
          var rule = "dead-pid"
          val alive = scala.util.Try {
            ProcessHandle.of(pid.toLong).map[Boolean] { h =>
              h.isAlive && {
                val start = h.info().startInstant()
                if (start.isPresent) {
                  rule = "recycled-start"
                  start.get.toEpochMilli <= f.lastModified() + 2000L
                } else {
                  rule = "age-fallback"
                  System.currentTimeMillis() - f.lastModified() <
                    24L * 3600 * 1000
                }
              }
            }.orElse(false)
          }.getOrElse(false)
          if (!alive) {
            System.err.println(
              s"[staging] reclaiming dead tmp ${f.getName} (rule: $rule)")
            deleteTree(f)
          }
        case _ => ()
      }
    }
  }

  /** Run `write` into a fresh tmp dir and publish it as
    * `root/<safe>__fp<hex>`; returns the published path. `write`
    * receives the tmp dir (already created) and may write through
    * Spark (whose committer adds its own `_SUCCESS`) or by hand —
    * the marker is ensured after the rename either way. `what`
    * names the caller in the failure messages.
    *
    * Publishers are SERIALIZED per fixture name: an intra-process
    * monitor (JVM-wide, keyed by the interned lock path) plus an OS
    * `FileLock` on a sibling lockfile. Serialization — not
    * keep-whichever-landed — is what makes the unmarked-dir cleanup
    * safe: without it, deleting a same-name dir that lacks
    * `_SUCCESS` races a concurrent same-fingerprint publisher in its
    * rename→marker window (the delete destroys a COMPLETE publish
    * the racer was one `createNewFile` away from marking, and a
    * caller already holding the returned path can watch the
    * directory vanish mid-read). Under the lock, an unmarked
    * same-name dir really is a dead crash remnant — no live writer
    * can be mid-publish — so deleting it (required: left in place it
    * wedges the rename on every subsequent run) is sound. The lock
    * also covers the dead-tmp sweep and the stale-sibling delete,
    * and write() runs inside it: fixture publishes are one-time
    * per-fingerprint, so lock hold time is amortized to zero.
    */
  private[sources] def publishOnce(root: String, name: String,
                                   fingerprint: Long, what: String)
                                  (write: java.io.File => Unit): String = {
    val safe = safeName(name)
    val dirName = s"${safe}__fp${java.lang.Long.toHexString(fingerprint)}"
    val rootDir = new java.io.File(root)
    val dir = new java.io.File(rootDir, dirName)
    val done = new java.io.File(dir, "_SUCCESS")
    // sweep BEFORE the published fast path, not only on the publish
    // path: a remnant whose pid was still alive during the one
    // locked sweep that ran (a concurrent publisher killed mid-write
    // after this fixture already published) would otherwise never be
    // revisited — every later call short-circuits on _SUCCESS. The
    // sweep is one listFiles, skips live pids, and only ever touches
    // dead processes' uniquely-named tmp dirs, so running it
    // unlocked here cannot interfere with a live publisher.
    if (rootDir.isDirectory) sweepDeadTmp(rootDir, safe)
    if (done.isFile) return dir.toString // fast path: published, no lock
    rootDir.mkdirs()
    val lockFile = new java.io.File(rootDir, s".$safe.lock")
    // FileLock is per-process (a second lock() in the same JVM throws
    // OverlappingFileLockException rather than blocking), so in-JVM
    // callers serialize on the interned canonical lock path first
    lockFile.getCanonicalPath.intern.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!done.isFile) {
            sweepDeadTmp(rootDir, safe)
            // stale siblings: same name, older fingerprint — dead
            // fixtures
            Option(rootDir.listFiles())
              .getOrElse(Array.empty)
              .filter(f => f.getName.startsWith(s"${safe}__fp") &&
                f.getName != dirName)
              .foreach(deleteTree)
            // under the lock a SAME-NAME dir without _SUCCESS is a
            // crash remnant (rename→marker window), not a concurrent
            // publish: delete it or the rename below wedges forever
            if (dir.exists()) deleteTree(dir)
            // tmp write + atomic rename: a crashed process never
            // leaves a half-written corpus under the published name.
            // The tmp name stays per-attempt unique (pid + nanos) so
            // a crash remnant is attributable to its dead pid by the
            // sweep above.
            val tmp = new java.io.File(rootDir,
              s".$dirName.tmp-${ProcessHandle.current().pid()}-${
                System.nanoTime()}")
            tmp.mkdirs()
            try write(tmp)
            catch { case e: Throwable => deleteTree(tmp); throw e }
            if (!tmp.renameTo(dir)) {
              deleteTree(tmp)
              throw new java.io.IOException(
                s"$what: could not publish $dir")
            }
            // a failed marker must fail LOUD — an unmarked publish
            // reads as incomplete forever
            try { done.createNewFile(): Unit } // no-op if a committer
                                               // wrote it
            catch { case e: java.io.IOException =>
              throw new java.io.IOException(
                s"$what: published $dir but could not mark it complete",
                e) }
          }
        } finally lock.release()
      } finally ch.close()
    }
    dir.toString
  }
}
