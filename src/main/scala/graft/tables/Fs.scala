package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

/** Scheme-aware filesystem facade — the ONE place graft decides whether a
  * table path is a local filesystem path (`/data/t`, `file:/data/t`) or a
  * Hadoop-FileSystem URI (`hdfs://nn/t`, `s3a://bucket/t`, `abfss://...`).
  *
  * Local paths take the `java.nio` fast path — byte-identical behavior to
  * the pre-URI engine, including hard-link/O_EXCL semantics the POSIX
  * commit protocol needs and zero per-call Hadoop overhead. Remote URIs
  * route through `org.apache.hadoop.fs.FileSystem`, resolved against the
  * active Spark session's Hadoop configuration (so `spark.hadoop.fs.*`
  * settings — custom schemes, credentials — apply to graft's own metadata
  * IO exactly as they do to Spark's data IO).
  *
  * Why a facade instead of using the Hadoop API everywhere: Hadoop's
  * LocalFileSystem is checksumming (every write grows a `.crc` sidecar that
  * would pollute table dirs and staging moves), has no O_EXCL/hard-link
  * primitive (the POSIX store's atomic claim), and adds measurable per-call
  * overhead on the metadata-heavy commit path. The dispatch is one string
  * prefix check.
  *
  * Driver-side only (it resolves the session Hadoop conf); executor-side
  * code keeps its existing discipline — Spark jobs address files by the
  * path STRINGS this facade produces, and Spark's own readers handle any
  * scheme.
  */
object Fs {

  /** The URI scheme of `s`, when it has one: `xyz://...` (authority form)
    * OR `xyz:/...` (java.net.URI's null-authority rendering — Spark's own
    * DDL path normalization produces this single-slash spelling for
    * LOCATION clauses). The slash after the colon is required so an odd
    * relative name `a:b` never reads as a scheme.
    */
  private def schemeOf(s: String): Option[String] = {
    val i = s.indexOf(':')
    // schemes shorter than 2 chars never name a filesystem — and 1-char
    // "schemes" are exactly the windows drive-letter shape (C:/...), which
    // must stay on the local branch
    if (i <= 1 || i + 1 >= s.length || s.charAt(i + 1) != '/') None
    else if (s.charAt(0).isLetter && (1 until i).forall { j =>
      val c = s.charAt(j)
      c.isLetterOrDigit || c == '+' || c == '-' || c == '.'
    }) Some(s.substring(0, i))
    else None
  }

  def hasScheme(s: String): Boolean = schemeOf(s).isDefined

  /** True when `s` addresses a NON-local filesystem: it has a scheme and the
    * scheme is not `file`. `file:` URIs are local (normalize converts
    * them); everything else without a scheme is a local path.
    */
  def isRemote(s: String): Boolean =
    schemeOf(s).exists(!_.equalsIgnoreCase("file"))

  /** Canonical `scheme://` spelling for a remote path — the single-slash
    * `scheme:/p` form converges to `scheme:///p` so the string-level
    * child/parent/relativize helpers see one shape.
    */
  private def canonicalRemote(s: String): String =
    if (isRemote(s) && !s.contains("://")) {
      val i = s.indexOf(':')
      s.substring(0, i) + "://" + s.substring(i + 1)
    } else s

  /** Canonical form: `file:` URIs become plain local paths (so the whole
    * engine sees one spelling for local storage); remote URIs lose ALL
    * trailing slashes (idempotent — store routing and in-memory keys
    * compare this form); plain paths pass through untouched.
    */
  def normalize(s: String): String =
    if (s.regionMatches(true, 0, "file:", 0, 5)) {
      // textual strip + percent-decode, NOT a round-trip through
      // java.net.URI: URI parsing reads '#' as a fragment delimiter
      // (silently truncating the path) and throws on a raw '%' or other
      // illegal characters — both legal in POSIX file names
      val rest = s.substring(5)
      val p =
        if (rest.startsWith("//")) {
          // file://authority/p — only the local spellings are local paths
          val after = rest.substring(2)
          val slash = after.indexOf('/')
          val auth = if (slash >= 0) after.substring(0, slash) else after
          require(auth.isEmpty || auth.equalsIgnoreCase("localhost"),
            s"file: URI with non-local authority '$auth' is not a local path: $s")
          if (slash >= 0) after.substring(slash) else "/"
        } else rest // file:/p
      Paths.get(percentDecode(p)).toString
    } else if (isRemote(s)) {
      var t = canonicalRemote(s)
      while (t.endsWith("/") && !t.endsWith("://")) t = t.dropRight(1)
      if (t.endsWith("://")) t + "/" else t // scheme root keeps its one slash
    } else s

  /** Decode `%XX` escapes (UTF-8, multi-byte aware); a '%' not followed by
    * two hex digits passes through literally — `File.toURI` never emits
    * one, and a hand-typed literal '%' in a file name must survive.
    */
  private def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val out = new java.lang.StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream()
    def flush(): Unit = if (bytes.size() > 0) {
      out.append(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
        bytes.write(hex(s.charAt(i + 1)) * 16 + hex(s.charAt(i + 2)))
        i += 3
      } else {
        flush(); out.append(c); i += 1
      }
    }
    flush()
    out.toString
  }

  /** Join `parent` and a (possibly multi-segment) relative `name`. */
  def child(parent: String, name: String): String =
    if (isRemote(parent))
      canonicalRemote(parent).stripSuffix("/") + "/" + name.stripPrefix("/")
    else Paths.get(parent).resolve(name).toString

  /** Pure string parent — NOT via `hadoop.Path.getParent`, whose toString
    * collapses the empty-authority `scheme:///x` spelling to `scheme:/x`
    * (which no longer parses as a scheme here).
    */
  def parent(path: String): String =
    if (isRemote(path)) {
      val p = canonicalRemote(path).stripSuffix("/")
      val schemeEnd = p.indexOf("://") + 3
      val lastSlash = p.lastIndexOf('/')
      if (lastSlash < schemeEnd) p.substring(0, schemeEnd)
      else if (lastSlash == schemeEnd) p.substring(0, schemeEnd + 1)
      else p.substring(0, lastSlash)
    } else {
      val p = Paths.get(path).getParent
      // a single-segment relative path has no parent — fail LOUDLY (the
      // caller would otherwise stage writes at the filesystem root)
      if (p == null)
        throw new IllegalArgumentException(
          s"path '$path' has no parent directory — use an absolute table path")
      p.toString
    }

  def fileName(path: String): String =
    if (isRemote(path)) {
      val p = canonicalRemote(path).stripSuffix("/")
      p.substring(p.lastIndexOf('/') + 1)
    } else Paths.get(path).getFileName.toString

  /** `org.apache.hadoop.fs.Path` form of a graft path string — remote URIs
    * parse directly; local paths qualify through `JPath.toUri` (the
    * `file:///x` triple-slash spelling, matching what `input_file_name()`
    * renders — `java.io.File.toURI`'s `file:/x` single-slash form would
    * break suffix-matching resolvers) with specials percent-encoded exactly
    * as Spark's own planner does.
    */
  def toHadoopPath(s: String): HPath =
    if (isRemote(s)) new HPath(s)
    else new HPath(Paths.get(s).toUri)

  /** URI string form (what FileStatus/rootPaths hand to Spark's readers). */
  def toUriString(s: String): String = toHadoopPath(s).toUri.toString

  // ---------------------------------------------------------------------
  // Hadoop plumbing (remote branch)
  // ---------------------------------------------------------------------

  /** The Hadoop configuration remote IO resolves against: the active Spark
    * session's (carrying `spark.hadoop.*` overrides — custom scheme impls,
    * credentials), cached PER SESSION — a new session's registrations are
    * picked up, a stopped session's stale conf is not served forever. A
    * bare `Configuration` only when no session exists (tools, early boot).
    */
  @volatile private var cachedConf
    : (java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession], Configuration) = null
  def hadoopConf: Configuration = {
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .orNull
    if (sess == null) new Configuration()
    else {
      val c = cachedConf
      // weak key: a stopped session must be collectable — a strong ref
      // here would pin its whole SessionState for the JVM's lifetime
      if (c != null && (c._1.get eq sess)) c._2
      else {
        val conf = sess.sessionState.newHadoopConf()
        cachedConf = (new java.lang.ref.WeakReference(sess), conf)
        conf
      }
    }
  }

  /** Test/embedding seam: drop the cached conf (e.g. after mutating the
    * live session's `sparkContext.hadoopConfiguration` in place — a new
    * SESSION invalidates automatically, an in-place mutation cannot).
    */
  def resetConfCache(): Unit = { cachedConf = null }

  private def fs(p: HPath): FileSystem = p.getFileSystem(hadoopConf)
  private def hp(s: String): HPath = new HPath(s)

  // ---------------------------------------------------------------------
  // IO operations — local = java.nio, remote = hadoop.fs
  // ---------------------------------------------------------------------

  def exists(path: String): Boolean =
    if (isRemote(path)) { val p = hp(path); fs(p).exists(p) }
    else Files.exists(Paths.get(path))

  def isDirectory(path: String): Boolean =
    if (isRemote(path)) {
      val p = hp(path)
      try fs(p).getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    } else Files.isDirectory(Paths.get(path))

  def isRegularFile(path: String): Boolean =
    if (isRemote(path)) {
      val p = hp(path)
      try fs(p).getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    } else Files.isRegularFile(Paths.get(path))

  def size(path: String): Long =
    if (isRemote(path)) { val p = hp(path); fs(p).getFileStatus(p).getLen }
    else Files.size(Paths.get(path))

  def lastModifiedMillis(path: String): Long =
    if (isRemote(path)) { val p = hp(path); fs(p).getFileStatus(p).getModificationTime }
    else Files.getLastModifiedTime(Paths.get(path)).toMillis

  /** Best-effort: set `path`'s modification time to NOW. Renames preserve
    * the source's mtime, so a file moved into a table dir would otherwise
    * carry its staged-WRITE time — vacuum's untracked-orphan age guard
    * must measure from the move, or a slow write's just-moved files look
    * hours old and sweepable before their commit lands.
    */
  def touch(path: String): Unit =
    try {
      if (isRemote(path)) {
        val p = hp(path); fs(p).setTimes(p, System.currentTimeMillis(), -1)
      } else Files.setLastModifiedTime(Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      ()
    } catch { case _: Exception => () }

  def mkdirs(dir: String): Unit =
    if (isRemote(dir)) { val p = hp(dir); fs(p).mkdirs(p); () }
    else { Files.createDirectories(Paths.get(dir)); () }

  def deleteIfExists(path: String): Boolean =
    if (isRemote(path)) { val p = hp(path); fs(p).delete(p, false) }
    else Files.deleteIfExists(Paths.get(path))

  def deleteRecursively(path: String): Unit =
    if (isRemote(path)) { val p = hp(path); fs(p).delete(p, true); () }
    else TableWriter.deleteRecursively(Paths.get(path))

  /** (fileName, byteSize) of `dir`'s direct children; Nil when absent. */
  def listNames(dir: String): Seq[(String, Long)] =
    if (isRemote(dir)) {
      val p = hp(dir)
      try fs(p).listStatus(p).toSeq.map(st => (st.getPath.getName, st.getLen))
      catch { case _: java.io.FileNotFoundException => Nil }
    } else {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) Nil
      else {
        val stream = Files.list(d)
        try stream.iterator().asScala.map { p =>
          val sz = try Files.size(p) catch { case _: java.io.IOException => -1L }
          (p.getFileName.toString, sz)
        }.toSeq
        finally stream.close()
      }
    }

  /** Absolute path strings of `dir`'s direct children; Nil when absent. */
  def listPaths(dir: String): Seq[String] =
    listChildNames(dir).map(child(dir, _))

  /** Child NAMES only — no per-entry size stat (the catalog/vacuum listing
    * paths need names; the local branch avoids one syscall per child that
    * [[listNames]] pays for the LogStore seam's (name, size) contract).
    */
  def listChildNames(dir: String): Seq[String] =
    if (isRemote(dir)) listNames(dir).map(_._1)
    else {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) Nil
      else {
        val stream = Files.newDirectoryStream(d)
        try stream.iterator().asScala.map(_.getFileName.toString).toSeq
        finally stream.close()
      }
    }

  /** Every entry under `root` — directories AND files, `root` included —
    * as (path, modificationTimeMillis); Nil when `root` does not exist.
    * The liveness-probe primitive (a fresh empty subdirectory must count),
    * mtimes carried from the LISTING itself so the probe costs one
    * listStatus per directory, not an extra stat per entry.
    */
  def walkTreeMtimes(root: String): Seq[(String, Long)] =
    if (isRemote(root)) {
      val rp = hp(root)
      val f = fs(rp)
      val rootSt = try f.getFileStatus(rp)
        catch { case _: java.io.FileNotFoundException => return Nil }
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def recur(p: HPath, st: org.apache.hadoop.fs.FileStatus): Unit = {
        buf += ((st.getPath.toString, st.getModificationTime))
        if (st.isDirectory) {
          val children =
            try f.listStatus(p)
            catch { case _: java.io.FileNotFoundException => return } // consumed mid-walk
          children.foreach(c => recur(c.getPath, c))
        }
      }
      recur(rp, rootSt)
      buf.toSeq
    } else {
      val r = Paths.get(root)
      if (!Files.exists(r)) Nil
      else {
        val stream = Files.walk(r)
        try stream.iterator().asScala.map { p =>
          val m = try Files.getLastModifiedTime(p).toMillis
            catch { case _: java.io.IOException => Long.MaxValue } // vanished: live
          (p.toString, m)
        }.toSeq
        finally stream.close()
      }
    }

  /** Every regular file under `root`, recursively, as absolute path
    * strings; Nil when `root` does not exist.
    */
  def walkFiles(root: String): Seq[String] =
    if (isRemote(root)) {
      val p = hp(root)
      val f = fs(p)
      if (!f.exists(p)) Nil
      else {
        val it = f.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) buf += st.getPath.toString
        }
        buf.toSeq
      }
    } else {
      val r = Paths.get(root)
      if (!Files.exists(r)) Nil
      else {
        val stream = Files.walk(r)
        try stream.iterator().asScala
          .filter(Files.isRegularFile(_)).map(_.toString).toSeq
        finally stream.close()
      }
    }

  /** Every regular file under `root` with its modification time, in ONE
    * listing pass (the remote recursive listing already carries mtimes;
    * a walk-then-stat would pay one extra round-trip per file). Nil when
    * `root` does not exist.
    */
  def walkFilesWithMtime(root: String): Seq[(String, Long)] =
    if (isRemote(root)) {
      val p = hp(root)
      val f = fs(p)
      if (!f.exists(p)) Nil
      else {
        val it = f.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) buf += ((st.getPath.toString, st.getModificationTime))
        }
        buf.toSeq
      }
    } else {
      val r = Paths.get(root)
      if (!Files.exists(r)) Nil
      else {
        val stream = Files.walk(r)
        try stream.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => (p.toString, Files.getLastModifiedTime(p).toMillis))
          .toSeq
        finally stream.close()
      }
    }

  /** `p` relative to `root` (both absolute, `p` under `root`). */
  def relativize(root: String, p: String): String =
    if (isRemote(root) || isRemote(p)) {
      val r = hp(root).toUri.getPath.stripSuffix("/")
      val c = hp(p).toUri.getPath
      c.stripPrefix(r).stripPrefix("/")
    } else Paths.get(root).relativize(Paths.get(p)).toString

  def readLines(path: String): Seq[String] =
    if (isRemote(path)) {
      val p = hp(path)
      val in = fs(p).open(p)
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        new String(bytes, StandardCharsets.UTF_8).linesIterator.toSeq
      } finally in.close()
    } else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq

  /** Stream `path`'s lines through `f` with early exit — the primitive the
    * GraftLog head pass and the file-limit estimate use (checkpoint
    * heads are O(1) lines; full reads of a GB JSON checkpoint to answer a
    * one-line question would be the driver bottleneck the scans avoid).
    */
  def scanLines[A](path: String)(f: Iterator[String] => A): A =
    if (isRemote(path)) {
      val p = hp(path)
      val in = fs(p).open(p)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      try f(Iterator.continually(reader.readLine()).takeWhile(_ != null))
      finally reader.close()
    } else {
      val stream = Files.lines(Paths.get(path), StandardCharsets.UTF_8)
      try f(stream.iterator().asScala)
      finally stream.close()
    }

  /** Create-or-replace `path` with `body`, atomically (temp + rename). */
  def writeAtomic(path: String, body: Array[Byte]): Unit =
    if (isRemote(path)) {
      val dst = hp(path)
      val f = fs(dst)
      val tmp = new HPath(dst.getParent, s".${dst.getName}.${UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      try {
        val fc = FileContext.getFileContext(dst.toUri, hadoopConf)
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      } finally {
        if (f.exists(tmp)) { f.delete(tmp, false); () }
      }
    } else {
      val dst = Paths.get(path)
      val tmp = Files.createTempFile(dst.getParent, s".${dst.getFileName}", ".tmp")
      Files.write(tmp, body)
      Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Move `src` to `dst` (same filesystem), replacing nothing: throws
    * `java.nio.file.FileAlreadyExistsException` when `dst` exists — the
    * first-writer-wins primitive checkpoint-sidecar publication keys on.
    *
    * Atomicity honesty, scheme by scheme:
    *  - HDFS-protocol schemes ([[HadoopLogStore.AtomicRenameSchemes]]):
    *    `FileContext.rename(Rename.NONE)` arbitrates atomically in the
    *    NameNode — exactly one concurrent winner, no audit needed.
    *  - Other remote schemes: the no-overwrite check and the rename are
    *    separate calls, and Hadoop's `rename` moves a source INTO a
    *    destination directory that appeared in the window (silently
    *    nesting a losing checkpoint's parts inside the winner's published
    *    dir). A post-rename AUDIT detects that outcome, removes the nested
    *    copy (it duplicates the winner's deterministic content) and
    *    surfaces the conflict. The audit is skipped for the pathological
    *    source-contains-a-self-named-child shape, where success and
    *    nesting are indistinguishable — pre-checked before the rename so
    *    a legitimately moved child is NEVER deleted.
    *  - Local: `Files.move(ATOMIC_MOVE)` maps to `rename(2)`, which
    *    silently REPLACES a destination file or empty dir — an explicit
    *    pre-check keeps the no-replace contract loud (the log's true
    *    conditional put stays the hard-link claim in PosixLogStore; this
    *    primitive's callers use unique names, the pre-check catches
    *    logic errors rather than racing writers).
    */
  def moveNoReplace(src: String, dst: String): Unit =
    if (isRemote(dst)) {
      val s = hp(src); val d = hp(dst)
      val f = fs(d)
      val scheme = Option(d.toUri.getScheme).getOrElse("file")
      val atomicRename = HadoopLogStore.AtomicRenameSchemes.contains(scheme.toLowerCase)
      // nesting-audit facts, gathered BEFORE the rename (src is gone after)
      val (auditable, srcIsDir) =
        if (atomicRename) (false, false)
        else {
          val st = f.getFileStatus(s) // loud FileNotFound if src vanished
          val selfChild = st.isDirectory && f.exists(new HPath(s, s.getName))
          (!selfChild, st.isDirectory)
        }
      try {
        val fc = FileContext.getFileContext(d.toUri, hadoopConf)
        try fc.rename(s, d)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new java.nio.file.FileAlreadyExistsException(dst)
        }
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (f.exists(d)) throw new java.nio.file.FileAlreadyExistsException(dst)
          if (!f.rename(s, d)) {
            if (f.exists(d)) throw new java.nio.file.FileAlreadyExistsException(dst)
            throw new java.io.IOException(s"rename $src -> $dst failed")
          }
      }
      if (auditable) {
        val nested = new HPath(d, s.getName)
        if (f.exists(nested)) {
          // a concurrent winner published dst inside the check→rename
          // window and the rename nested our content within it (dir AND
          // file sources both nest); srcIsDir picks the right delete shape
          f.delete(nested, srcIsDir)
          throw new java.nio.file.FileAlreadyExistsException(dst)
        }
      }
    } else {
      val sp = Paths.get(src); val dp = Paths.get(dst)
      if (Files.exists(dp))
        throw new java.nio.file.FileAlreadyExistsException(dst)
      try { Files.move(sp, dp, StandardCopyOption.ATOMIC_MOVE); () }
      catch {
        case e: java.nio.file.DirectoryNotEmptyException =>
          throw new java.nio.file.FileAlreadyExistsException(e.getFile)
      }
    }

  /** Move `src` to `dst`, replacing an existing file (not used on contended
    * paths — overwrite publication like the distributed JSON checkpoint).
    */
  def moveReplace(src: String, dst: String): Unit =
    if (isRemote(dst)) {
      val fc = FileContext.getFileContext(hp(dst).toUri, hadoopConf)
      fc.rename(hp(src), hp(dst), Options.Rename.OVERWRITE)
    } else {
      Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Fresh uniquely-named directory under `parent` with name prefix
    * `prefix` (the staging-dir primitive).
    */
  def createTempDir(parent: String, prefix: String): String =
    if (isRemote(parent)) {
      val dir = child(parent, s"$prefix${UUID.randomUUID()}")
      mkdirs(dir)
      dir
    } else {
      mkdirs(parent)
      Files.createTempDirectory(Paths.get(parent), prefix).toString
    }
}
