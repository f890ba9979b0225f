package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one serving-store lifecycle: every fingerprint-keyed store
  * (posting index, fact layout, LM stats, signature and model stores,
  * ground truth, funnel stamps, resolved enrichment, stream-sink state)
  * lives as GENERATIONS under `path`, and every ensure, append,
  * compaction and stream-batch fold takes the same core: build lock →
  * proofs → write a NEW generation → stamp the sidecar → prune.
  *
  * A generation is one directory `path/gen_<fp-hex>_<nonce>` (nonce a
  * random UUID — process-unique, not merely JVM-monotonic). A
  * multi-artifact store holds each artifact as a subdirectory of it.
  * The ONE sidecar at `path + "_model"` is a small properties file —
  * `fp`, `gen` (the generation's name) and the `meta` keys — read and
  * written on the driver with plain file IO, so proving or stamping a
  * generation launches no Spark job. It is written LAST: a crash
  * anywhere before the stamp leaves the previous generation served (or,
  * on a first build, nothing), never a fresh-looking partial one. The
  * stamp is written to a temporary file beside it and renamed over it
  * with ATOMIC_MOVE, so a reader sees the old stamp or the new one,
  * never none and never a torn one. Crash model: a process killed at
  * any line (`kill -9`, as [[graft.tools.StoreContention]] exercises it)
  * leaves one of the two stamps whole, plus at most one hidden temporary
  * file that nothing reads; a machine crash that loses the page cache is
  * outside it (nothing is fsynced). Nothing is mutated in
  * place, so no live reader's files ever change: a build can never
  * overwrite a directory a reader holds — not even when a corpus cycles
  * back to a previously-seen fingerprint (A→B→A). Prune keeps the new
  * generation and the sidecar-named previous one (readers handed out
  * before the swap survive one cycle), bounding disk at two
  * generations. When the sidecar is missing (deleted from outside — no
  * commit ever leaves it missing) or unreadable, the previous
  * generation is UNKNOWN, so pruning is skipped rather than guessed. A
  * `_model` DIRECTORY is the parquet stamp of an older engine: it reads
  * as [[LegacyFlat]] without being parsed, and serving stores migrate
  * with one rebuild, whose commit deletes the directory before its
  * rename and prunes the generations it named (this code never hands
  * them to a reader).
  *
  * Appends and compactions derive the new generation from the committed
  * one. Carried artifacts are HARD LINKS to the previous generation's
  * files (parquet files are immutable, the serving warehouse is
  * node-local), so an append writes only the delta's files — the write
  * volume of the old in-place appends — and still commits atomically
  * with the stamp. Bucketed artifacts register as catalog tables named
  * per generation ([[Generation.table]]): a session that resolved an
  * older generation's table keeps its (still-present) file listing, and
  * no session — Lane's `newSession()` children included — can resolve a
  * cached relation over a superseded listing by name.
  *
  * Builds run under a lock directory at `path + "_lock"`: two sessions
  * ensuring the same stale store do not both build; the loser waits,
  * then re-reads the sidecar and almost always serves the winner's
  * generation. A crashed builder's lock is taken over after
  * [[ServingStore.LockStaleMs]] (lock-dir mtime).
  */
private[graft] object ServingStore {

  /** Typed [[append]] and [[foldKeys]] refusals — protocol callers (the
    * streaming [[graft.streaming.SigSink]]) dispatch on the TYPE, never
    * on the human-readable message (substring dispatch turns a message
    * rewording into a stream-killing regression). They
    * extend IllegalArgumentException so existing intercepts and the
    * require-style call sites keep their contract. */
  private[graft] sealed abstract class AppendRefused(msg: String)
      extends IllegalArgumentException(msg)
  /** storedFp != the caller's pre-delta snapshot: the store is stale. */
  private[graft] final class StaleStoreRefusal(msg: String) extends AppendRefused(msg)
  /** The post-delta fingerprint did not advance (an append), or the
    * batch's missing keys are not in the landed corpus (a fold): delta
    * files not landed. */
  private[graft] final class DeltaNotLandedRefusal(msg: String) extends AppendRefused(msg)
  /** Delta unique keys already present in the generation: double append. */
  private[graft] final class KeysAlreadyPresentRefusal(msg: String) extends AppendRefused(msg)

  /** A corpus-global model (IDF weights) has drifted past its
    * staleness bound: serving it for one more delta would exceed the
    * operator's quantified accuracy contract — rebuild instead. */
  private[graft] final class ModelDriftRefusal(msg: String) extends AppendRefused(msg)

  /** What the sidecar proves about the store. */
  private[graft] sealed trait SidecarState
  /** Generation layout: fp, the generation directory it names, and the
    * `meta` keys stamped with it. */
  private[graft] final case class Stamped(fp: Long, gen: String,
      meta: Map[String, String]) extends SidecarState
  /** A `_model` directory: the parquet stamp of an older engine (the
    * pre-generation flat layout, or a generation stamped before the
    * stamp became a file). It is never parsed: a serving store migrates
    * with one rebuild, which prunes the generations it named (this code
    * never serves them); stream state and appends refuse it. */
  private[graft] case object LegacyFlat extends SidecarState
  /** No sidecar: a first build, or a stamp deleted from outside. */
  private[graft] case object Missing extends SidecarState
  /** A sidecar that does not parse as a stamp (warned when read). */
  private[graft] case object Unreadable extends SidecarState

  /** Unique directory for a NEW generation build: fingerprint for
    * auditability plus a random-UUID nonce for uniqueness — never
    * reuses a directory a previous build (even of the same fp, even
    * from another process) may have handed to a live reader. */
  private[graft] def newGenerationPath(path: String, fp: Long): String =
    path + "/gen_" + java.lang.Long.toHexString(fp) + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  /** The fingerprint a generation directory name was built for — None
    * for a name [[newGenerationPath]] did not make. */
  private[graft] def generationFp(name: String): Option[Long] =
    scala.util.Try(java.lang.Long.parseUnsignedLong(
      name.stripPrefix("gen_").takeWhile(_ != '_'), 16)).toOption
      .filter(_ => name.startsWith("gen_"))

  /** A multi-artifact generation's bucketed artifact: registered in the
    * session catalog as `table` suffixed by the generation. */
  private[graft] final case class Bucketing(table: String, key: String, numBuckets: Int)

  /** One artifact of a generation: subdirectory `sub` of its directory. */
  private[graft] final case class Artifact(sub: String, bucketing: Option[Bucketing] = None)

  /** A generation of a multi-artifact store: its directory and the
    * artifacts it holds. */
  private[graft] final case class Generation(dir: String, artifacts: Seq[Artifact]) {
    def path(sub: String): String = dir + "/" + sub
    private[ServingStore] def bucketing(sub: String): Bucketing =
      artifacts.find(_.sub == sub).flatMap(_.bucketing)
        .getOrElse(throw new IllegalArgumentException(s"$sub is not a bucketed artifact"))
    /** The catalog name of bucketed artifact `sub` in THIS generation. */
    def table(sub: String): String = tableName(bucketing(sub), dir)
  }

  /** Catalog name base for a store over corpus `dir`: digest-keyed, not
    * sanitized-dir-keyed, because catalog identifiers are
    * case-insensitive and length-limited where paths are not. */
  private[graft] def tableBase(name: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    s"graft_${name}_$digest"
  }

  private def tableName(b: Bucketing, genDir: String): String =
    b.table + "_" + java.nio.file.Paths.get(genDir).getFileName.toString.stripPrefix("gen_")

  private def sidecarPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + "_model")

  /** What the sidecar at `path + "_model"` proves — one driver-side file
    * read. A missing sidecar is the normal first build and logs nothing;
    * a present but unreadable one is warned about, so a persistent
    * IO/permissions/corruption error does not degrade into a silent
    * rebuild on every call. */
  private[graft] def sidecarState(what: String, path: String): SidecarState = {
    val file = sidecarPath(path)
    if (java.nio.file.Files.isDirectory(file)) LegacyFlat
    else
      try {
        val props = new java.util.Properties()
        props.load(new java.io.StringReader(
          new String(java.nio.file.Files.readAllBytes(file), "UTF-8")))
        import scala.jdk.CollectionConverters._
        val kv = props.asScala.toMap
        val gen = kv("gen")
        require(generationFp(gen).isDefined, s"not a generation name: $gen")
        Stamped(kv("fp").toLong, path + "/" + gen, kv -- Seq("fp", "gen"))
      } catch {
        case _: java.nio.file.NoSuchFileException => Missing
        case e if scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"$what sidecar at $file unreadable; rebuilding", e)
          Unreadable
      }
  }

  /** (fp, generation dir path) from the sidecar — None when it is
    * missing, unreadable (warned) or predates the generation layout (no
    * warn: that is the documented migration path). */
  private[graft] def readSidecar(what: String, path: String): Option[(Long, String)] =
    sidecarState(what, path) match {
      case Stamped(fp, gen, _) => Some((fp, gen))
      case _ => None
    }

  /** The commit: stamp `gen` as the live generation for `fp`. `meta`
    * rides along as extra keys (the fact layout's corpus dir and shape
    * version: its janitor reads the one, appends check the other). A
    * legacy `_model` directory is deleted first: a rename cannot replace
    * a directory. */
  private[graft] def writeSidecar(path: String, fp: Long, gen: String,
      meta: Seq[(String, String)] = Nil): Unit = {
    val props = new java.util.Properties()
    props.setProperty("fp", fp.toString)
    props.setProperty("gen", java.nio.file.Paths.get(gen).getFileName.toString)
    meta.foreach { case (k, v) => props.setProperty(k, v) }
    val out = new java.io.StringWriter()
    props.store(out, null)
    val file = sidecarPath(path)
    if (java.nio.file.Files.isDirectory(file)) Dedup.deleteTree(file.toString)
    writeAtomically(file, out.toString.getBytes("UTF-8"))
  }

  /** Replace `file` with `bytes` whole: written to a hidden temporary
    * file beside it, then renamed over it with ATOMIC_MOVE — a reader
    * sees the old content or the new, and a process killed mid-write
    * leaves the old content (and the temporary file) behind. */
  private def writeAtomically(file: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val tmp = file.resolveSibling("." + file.getFileName + "." +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Age after which another builder's lock is presumed crashed and
    * taken over. Volatile so the adversarial specs can shrink it. */
  @volatile private[graft] var LockStaleMs: Long = 30L * 60 * 1000

  /** Crash-point injection seam for the two-process crash harness
    * ([[graft.tools.StoreContention]]): when the GRAFT_CRASH_POINT env
    * var names this tag, halt the JVM on the spot — `Runtime.halt`
    * runs no shutdown hooks and no finally blocks, the closest
    * in-process stand-in for `kill -9` at an exact line. Generation
    * stores have ONE such point, `<what>.precommit`: the new generation
    * fully written, the sidecar not yet stamped. Unset in production:
    * one map lookup, no hot path. */
  private[graft] def crashPoint(tag: String): Unit =
    if (sys.env.get("GRAFT_CRASH_POINT").contains(tag)) {
      Console.err.println(s"[crash-point] halting at $tag")
      Runtime.getRuntime.halt(137)
    }

  private[graft] def lockPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + "_lock")

  /** Run `body` holding the store's build lock (a lock DIRECTORY —
    * creation is atomic on every local filesystem). Contenders poll;
    * a lock older than [[LockStaleMs]] is presumed abandoned by a
    * crashed builder and taken over. The callback re-checks freshness
    * under the lock, so a waiting loser serves the winner's generation
    * instead of building again. */
  private[graft] def withBuildLock[T](path: String)(body: => T): T = {
    val lock = lockPath(path)
    Option(lock.getParent).foreach(java.nio.file.Files.createDirectories(_))
    // ownership nonce: release must only remove a lock THIS holder still
    // owns — after a (mistaken or legitimate) takeover, the original
    // holder's nonce went with the renamed tombstone, so its release
    // sees a foreign lock and leaves it alone instead of unlocking the
    // new holder's build
    val nonce = "owner_" + java.util.UUID.randomUUID().toString.replace("-", "")
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.createDirectory(lock)
        java.nio.file.Files.createFile(lock.resolve(nonce))
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try {
              val age = System.currentTimeMillis() -
                java.nio.file.Files.getLastModifiedTime(lock).toMillis
              age > LockStaleMs
            } catch {
              // vanished between the failed create and the stat: retry
              case _: java.io.IOException => false
            }
          if (stale) {
            // takeover must be ATOMIC: delete-then-create lets contender
            // B's delayed delete remove contender A's freshly created
            // lock (two builders then hold it at once — r12 advice).
            // Rename the stale lock to a contender-unique tombstone
            // instead: same-directory Files.move with ATOMIC_MOVE is
            // atomic on local filesystems, so exactly ONE renamer owns
            // the stale lock; it removes the tombstone and loops into
            // the normal createDirectory race. Losers' moves throw (the
            // source is gone) and they just re-enter the loop. A crash
            // between move and delete leaks a tombstone dir that
            // blocks nothing (it is not the lock path).
            val tomb = java.nio.file.Paths.get(path + "_lock_tomb_" +
              java.util.UUID.randomUUID().toString.replace("-", ""))
            try {
              java.nio.file.Files.move(lock, tomb,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              // the renamed dir still carries the crashed holder's
              // owner_* nonce file — a bare delete on the dir throws
              // DirectoryNotEmptyException and leaks a tombstone on
              // EVERY takeover; delete bottom-up like prune
              val walked = {
                val s = java.nio.file.Files.walk(tomb)
                try { import scala.jdk.CollectionConverters._
                  s.iterator().asScala.toList } finally s.close()
              }
              walked.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
            } catch { case _: java.io.IOException => () }
          } else Thread.sleep(50)
      }
    }
    // heartbeat: a legitimate build longer than LockStaleMs must not
    // read as abandoned — a daemon thread refreshes the lock mtime at a
    // third of the staleness bound, so takeover only ever fires on a
    // holder that actually stopped (crashed process, dead JVM). Touch
    // failures are swallowed: if the lock was stolen anyway (extreme
    // clock skew), the ownership check below keeps release correct.
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(1000L, LockStaleMs / 3))
          try java.nio.file.Files.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${lock.getFileName}")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      beat.interrupt()
      try {
        // release ONLY if our nonce is still inside — i.e. the lock dir
        // is still the one we created, not a successor's
        if (java.nio.file.Files.deleteIfExists(lock.resolve(nonce)))
          java.nio.file.Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Freshness-aware serve memo: the sidecar IS the freshness proof,
    * but re-serving (re-listing the generation files, re-checking catalog
    * registration, decoding a model) costs driver fixed overhead — paid
    * by every serving-store query every time. An entry keeps the stamp
    * it was served for, and a call whose sidecar read (one small file)
    * returns an EQUAL stamp hits: every commit stamps a generation name
    * carrying a fresh UUID nonce, so an equal stamp is the same commit
    * and any later commit misses. Session-scoped (frames and catalog
    * registrations bind a session). A multi-artifact hit still re-runs
    * the two checks the sidecar cannot prove — every artifact of the
    * memoized generation holds data, its tables are registered — both
    * driver-local (directory listings, in-memory catalog lookups). */
  private val serveMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamped, SparkSession, AnyRef)]()

  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Committed data in an artifact directory (>= 1 non-marker file):
    * a generation whose artifact lost its files is never served. */
  private def hasData(dir: String): Boolean = {
    val fs = new java.io.File(dir).listFiles()
    fs != null && fs.exists(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def complete(artifacts: Seq[Artifact])(gen: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(gen)) &&
      artifacts.forall(a => hasData(gen + "/" + a.sub))

  /** What the proofs decided under the lock: keep a stamp already
    * committed (a rival's fresh generation, a replayed batch, a batch
    * whose keys are all served), or `write` a new generation directory
    * stamped `fp`. */
  private sealed trait Decision
  private final case class Serve(stamp: Stamped) extends Decision
  private final case class Write(fp: Long, write: String => Unit) extends Decision

  /** THE write path. Under the build lock, `decide` reads the sidecar's
    * proof (and may refuse by throwing); on [[Write]] its `write` fills
    * a new generation directory, and only then the sidecar is stamped
    * and generations other than {new, previous} pruned. A [[Write]]
    * stamping the fingerprint already committed (a compaction, an IVF
    * refresh, a landing-race fold, a same-fingerprint repair) is
    * invisible to the prepared-plan cache's corpus stamp, so it drops
    * the memoized plans ([[graft.PlanCache.invalidate]]): they may read
    * the previous generation, which the next commit prunes. Returns the
    * stamp of the served generation. */
  private def commit(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], meta: Seq[(String, String)])(
      decide: SidecarState => Decision): Stamped =
    withBuildLock(path) {
      val state = sidecarState(what, path)
      decide(state) match {
        case Serve(stamp) => stamp
        case Write(fp, write) =>
          val target = newGenerationPath(path, fp)
          write(target)
          crashPoint(what + ".precommit")
          writeSidecar(path, fp, target, meta)
          state match {
            case Stamped(prevFp, prevGen, _) =>
              prune(spark, path, Set(target, prevGen), artifacts)
              if (prevFp == fp) graft.PlanCache.invalidate()
            case LegacyFlat => prune(spark, path, Set(target), artifacts)
            case Missing | Unreadable => ()
          }
          Stamped(fp, target, meta.toMap)
      }
    }

  /** Commit a generation whose stamp the CALLER proves: under the build
    * lock `stamp` reads the sidecar's state and returns the fingerprint
    * to commit, or None to keep the committed generation (a refusal
    * throws). `write(committed, next)` writes every artifact of the new
    * generation. The stream-sink fold
    * ([[graft.streaming.StreamStateStore]]) stamps batch ids here. */
  private[graft] def advance(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], meta: Seq[(String, String)])(
      stamp: SidecarState => Option[Long])(
      write: (Option[Generation], Generation) => Unit): Unit = {
    commit(spark, what, path, artifacts, meta)(state => (state, stamp(state)) match {
      case (_, Some(fp)) => Write(fp, next => write(
        Some(state).collect { case Stamped(_, g, _) => Generation(g, artifacts) },
        Generation(next, artifacts)))
      case (kept: Stamped, None) => Serve(kept)
      case (other, None) => throw new IllegalStateException(
        s"$what store at $path has no committed generation to keep ($other)")
    })
    ()
  }

  /** Hard-link every data file (and its checksum) of a committed
    * artifact directory into a new generation, recursing into partition
    * subdirectories (`cid=<n>/`): the carried artifact costs no data
    * write. Job markers are not linked — a later write into the new
    * generation rewrites its marker in place, which must not reach
    * through a link into the committed generation. */
  private[graft] def link(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    listDir(java.nio.file.Paths.get(from))
      .filterNot(f => f.getFileName.toString.startsWith("_") ||
        f.getFileName.toString.startsWith("._"))
      .foreach { f =>
        if (!java.nio.file.Files.isDirectory(f))
          java.nio.file.Files.createLink(dst.resolve(f.getFileName), f)
        else if (!f.getFileName.toString.startsWith("."))
          link(f.toString, dst.resolve(f.getFileName).toString)
      }
  }

  /** Ensure a generation fresh for `fp` (every artifact holding data)
    * and serve it through `serve`, memoized per session — the shared
    * ensure of every store. `serve` runs once per generation and
    * session, so it may decode (a model store collects its model there
    * and the memo keeps it resident); for a multi-artifact store a memo
    * hit re-proves the artifacts and re-registers its bucketed tables. */
  private[graft] def served[T <: AnyRef](spark: SparkSession, what: String, path: String,
      fp: Long, artifacts: Seq[Artifact] = Nil, meta: Seq[(String, String)] = Nil)(
      build: String => Unit)(serve: String => T): T = {
    val memoKey = System.identityHashCode(spark).toString + "|" + path
    def fresh(state: SidecarState): Option[Stamped] = state match {
      case s @ Stamped(f, g, _) if f == fp && complete(artifacts)(g) => Some(s)
      case _ => None
    }
    val stamp = fresh(sidecarState(what, path)) match {
      case Some(s) => Option(serveMemo.get(memoKey)) match {
        // the identity hash is not unique across a collected session's
        // lifetime: verify the entry is bound to THIS session, or a
        // hash-reusing new session would be served a dead session's plan
        case Some((m, owner, v)) if m == s && (owner eq spark) =>
          register(spark, Generation(s.gen, artifacts))
          return v.asInstanceOf[T]
        case _ => s
      }
      case None =>
        commit(spark, what, path, artifacts, meta)(
          // re-check under the lock: a concurrent builder we waited out
          // has usually stamped the store fresh already — serve it
          state => fresh(state).fold[Decision](Write(fp, build))(Serve))
    }
    val v = serve(stamp.gen)
    // crude bound: one entry per (session, store) — dozens in any real
    // process — but a session-cycling harness would otherwise grow it
    // without limit (each entry pins a session's plans); reset rather
    // than LRU, the rebuild cost is one sidecar read per store
    if (serveMemo.size > 256) serveMemo.clear()
    serveMemo.put(memoKey, (stamp, spark, v))
    v
  }

  /** Ensure a single-artifact generation of the store under `path`
    * matching `fp`; `build` must write the store to the directory it is
    * handed. Returns the fresh generation as a lazy parquet read. */
  def ensure(spark: SparkSession, what: String, path: String, fp: Long)(
      build: String => Unit): DataFrame =
    served(spark, what, path, fp)(build)(spark.read.parquet(_))

  /** Ensure a multi-artifact generation: `build` writes every artifact
    * into the [[Generation]] it is handed (bucketed ones through
    * [[writeBucketed]]); the served generation has its bucketed tables
    * registered in `spark`'s catalog — on every call, memo hits
    * included — and `serve` turns it into what the serve memo keeps
    * (the generation itself, or its artifact reads). */
  private[graft] def ensureGeneration[T <: AnyRef](spark: SparkSession, what: String,
      path: String, fp: Long, artifacts: Seq[Artifact], meta: Seq[(String, String)] = Nil)(
      build: Generation => Unit)(serve: Generation => T): T =
    served(spark, what, path, fp, artifacts, meta)(
      dir => build(Generation(dir, artifacts)))(
      dir => serve(register(spark, Generation(dir, artifacts))))

  /** The append proofs shared by every store: the committed fingerprint
    * must equal the caller's pre-delta snapshot (else the store is
    * stale — rebuild, don't append), and `postFp`, the fingerprint
    * evaluated under the lock, must differ from it, so a delta whose
    * files never landed cannot stamp fresh-looking state. */
  private[graft] def landed(what: String, path: String, expectedFp: Option[Long],
      postFp: () => Long)(storedFp: Long): Long = {
    expectedFp.foreach(e => if (storedFp != e) throw new StaleStoreRefusal(
      s"$what store at $path was built for a different corpus state " +
        s"(stored fp $storedFp != pre-delta fp $e): the store " +
        "is stale and must be rebuilt, not appended into"))
    val newFp = postFp()
    if (newFp == storedFp) throw new DeltaNotLandedRefusal(
      s"corpus fingerprint unchanged after the delta (still $storedFp) — " +
        "land the delta files BEFORE appending, so the stamped " +
        "fingerprint proves the merged state")
    newFp
  }

  /** The committed generation a new one may derive from: stamped with
    * the caller's `meta` and holding every artifact, or the derivation
    * refuses. */
  private def proven(what: String, path: String, artifacts: Seq[Artifact],
      meta: Seq[(String, String)])(state: SidecarState): Stamped = state match {
    case Stamped(_, g, m) if meta.exists { case (k, v) => !m.get(k).contains(v) } =>
      throw new StaleStoreRefusal(
        s"$what generation at $g is stamped ${m.toSeq.sorted.mkString(", ")} — this " +
          s"engine writes ${meta.mkString(", ")}: its shape predates this engine, " +
          "rebuild instead of deriving a generation from it")
    case s @ Stamped(_, g, _) if complete(artifacts)(g) => s
    case Stamped(_, g, _) => throw new StaleStoreRefusal(
      s"$what generation at $g lacks a committed artifact — rebuild instead " +
        "of deriving a generation from it")
    case LegacyFlat => throw new StaleStoreRefusal(
      s"$what store at $path predates the generation layout — rebuild " +
        "instead of appending into an unproven store")
    case Missing | Unreadable => throw new IllegalStateException(
      s"$what sidecar at ${sidecarPath(path)} ${state.toString.toLowerCase} — run the " +
        "full ensure rebuild instead of appending into an unproven generation")
  }

  /** Write a generation derived from `committed`, stamped `fp`: the
    * `carry` artifacts are hard-linked, then `write(committed, next)`
    * adds the delta's files and rewrites any artifact not carried. */
  private def derive(committed: Stamped, fp: Long, artifacts: Seq[Artifact],
      carry: Seq[String])(write: (Generation, Generation) => Unit): Decision =
    Write(fp, next => {
      carry.foreach(sub => link(committed.gen + "/" + sub, next + "/" + sub))
      write(Generation(committed.gen, artifacts), Generation(next, artifacts))
    })

  /** Derive a new generation from the committed one — the core of every
    * batch append and compaction. The committed generation must be
    * [[proven]]. `nextFp` maps its fingerprint to the new one: an append
    * passes [[landed]] (its proofs), a compaction `identity` (same
    * content). */
  private[graft] def deriveGeneration(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], carry: Seq[String], meta: Seq[(String, String)] = Nil)(
      nextFp: Long => Long)(write: (Generation, Generation) => Unit): Generation = {
    val stamp = commit(spark, what, path, artifacts, meta) { state =>
      val committed = proven(what, path, artifacts, meta)(state)
      derive(committed, nextFp(committed.fp), artifacts, carry)(write)
    }
    register(spark, Generation(stamp.gen, artifacts))
  }

  /** Fold a stream batch of landed corpus rows into the store, idempotent
    * by `key` — the one stream-append path. Under the build lock the
    * batch's keys are probed against the `served` keys of the committed
    * ([[proven]]) generation through delta-sized broadcasts (the
    * [[append]] key-probe convention). Every key served — a replay, a
    * re-delivery, rows a first batch's full ensure covered — commits
    * nothing. Otherwise `write(committed, next, missing)` adds the rows
    * of the missing keys only, stamped with `postFp` evaluated under the
    * lock. A fingerprint that did not advance is the landing race (an
    * earlier batch's stamp covers this batch's files): the missing keys
    * must then be in the landed `corpus` table, or the fold refuses with
    * [[DeltaNotLandedRefusal]] and commits nothing. */
  private[graft] def foldKeys(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], carry: Seq[String], meta: Seq[(String, String)] = Nil)(
      batch: DataFrame, key: String, served: Generation => DataFrame,
      postFp: () => Long, corpus: () => DataFrame)(
      write: (Generation, Generation, DataFrame) => Unit): Unit = {
    def among(rows: DataFrame, keys: DataFrame): DataFrame =
      rows.select(col(key)).join(broadcast(keys), Seq(key), "left_semi").distinct()
    val keys = batch.select(col(key)).distinct().localCheckpoint()
    commit(spark, what, path, artifacts, meta) { state =>
      val committed = proven(what, path, artifacts, meta)(state)
      val missing = keys.join(broadcast(among(served(Generation(committed.gen, artifacts)), keys)),
        Seq(key), "left_anti").localCheckpoint()
      if (missing.isEmpty) Serve(committed)
      else {
        val fp = postFp()
        if (fp == committed.fp && among(corpus(), missing).count() < missing.count())
          throw new DeltaNotLandedRefusal(
            s"$what: batch ${key}s missing from the generation at ${committed.gen} are not " +
              s"in the landed corpus either (fingerprint still ${committed.fp}) — land the " +
              "batch's files BEFORE folding it")
        derive(committed, fp, artifacts, carry)((prev, next) => write(prev, next, missing))
      }
    }
    ()
  }

  /** A store of rows that are PURE functions of their own corpus rows
    * (see [[append]]), unique by `key`: `rows` derives store rows from
    * corpus rows, `merge` adds derived rows to the committed ones,
    * `postFp` re-fingerprints the landed corpus and `corpus` reads the
    * landed corpus table. The batch append and
    * the stream fold share these expressions. */
  private[graft] final case class RowStore(spark: SparkSession, what: String, path: String,
      key: String, rows: DataFrame => DataFrame, postFp: () => Long, corpus: () => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame = _ unionByName _) {
    /** Append newly landed corpus rows ([[ServingStore.append]]). */
    def append(newRows: DataFrame, expectedFp: Long): Unit =
      ServingStore.append(spark, what, path, expectedFp, rows(newRows), postFp, merge, Some(key))

    /** Fold a stream batch of landed corpus rows ([[foldKeys]]). */
    def fold(batch: DataFrame): Unit =
      foldKeys(spark, what, path, Nil, carry = Nil)(
          batch, key, g => spark.read.parquet(g.dir), postFp, corpus) { (prev, next, missing) =>
        merge(spark.read.parquet(prev.dir),
          rows(batch.join(broadcast(missing), Seq(key), "left_semi")))
          .write.mode("overwrite").parquet(next.dir)
      }
  }

  /** Merge-append a delta into a single-artifact store — the shared
    * incremental-ingest protocol: the [[landed]] proofs, then
    * `merge(prev, delta)` writes the new generation. With `uniqueKey`
    * set, delta keys already present in the committed generation are
    * refused loudly — for pure per-row
    * stores a key on both sides means the same rows were appended
    * twice and every downstream dedup would pair rows with themselves.
    *
    * Only valid for stores whose rows are PURE functions of their own
    * input rows (media hashes, minhash/simhash/embedding-LSH
    * signatures): a store derived corpus-globally (IDF weights and the
    * signatures joined against them, hot-cell assignment masks) cannot
    * absorb a delta row-locally — its append IS the rebuild. (The IDF
    * store has a BOUNDED-staleness escape, [[Dedup.appendSimhashIdf]] —
    * delta signatures against the served stale weights while corpus
    * growth stays inside a quantified drift bound, typed refusal
    * beyond it.)
    *
    * DISCLOSED PRECONDITION (shared by every append API here,
    * [[Dedup.appendPostings]] included): the caller is the only agent
    * landing corpus files between its fingerprint snapshot and the
    * append — the single-ingest-writer contract of an ingest pipeline.
    * The stamped post-delta fingerprint hashes the WHOLE dir, so files
    * landed out-of-band in that window would be covered by the stamp
    * while their rows are absent from the merged store, and no refusal
    * can see it (a dir hash cannot prove which files a delta frame
    * came from; a writer-stamped manifest would — the same residual
    * the corpusFingerprint docstring discloses). */
  private[graft] def append(spark: SparkSession, what: String, path: String,
      expectedFp: Long, delta: DataFrame, postFp: () => Long,
      merge: (DataFrame, DataFrame) => DataFrame = _ unionByName _,
      uniqueKey: Option[String] = None): Unit = {
    deriveGeneration(spark, what, path, Nil, carry = Nil)(
      // the landed-delta refusal runs FIRST: it is a driver-side dir
      // listing, while the key probe and the merge evaluate the delta —
      // for media that is a decode pass, which a refused append must
      // not pay
      landed(what, path, Some(expectedFp), postFp)) { (prevGen, newGen) =>
      // one evaluation of the (possibly expensive) delta feeds BOTH the
      // key probe and the merge write
      val deltaOnce = delta.localCheckpoint(eager = false)
      val prev = spark.read.parquet(prevGen.dir)
      uniqueKey.foreach { k =>
        // delta keys are few, but the checkpointed delta has no stats
        // (LogicalRDD defaults to unknown size), so auto-broadcast never
        // fires — hint it explicitly or the probe sort-merges, shuffling
        // the whole store on every append
        if (!prev.join(broadcast(deltaOnce.select(col(k)).distinct()), Seq(k)).isEmpty)
          throw new KeysAlreadyPresentRefusal(
            s"delta ${k}s already present in the generation at ${prevGen.dir} — " +
              "the same rows were appended twice; rebuild instead")
      }
      merge(prev, deltaOnce).write.mode("overwrite").parquet(newGen.dir)
    }
    ()
  }

  /** Write `df` as bucketed artifact `sub` of the (uncommitted)
    * generation `gen`, through its generation-named catalog table:
    * beside the files already there (a carried artifact's links) when
    * the directory exists, as the whole artifact otherwise. */
  private[graft] def writeBucketed(df: DataFrame, gen: Generation, sub: String): Unit = {
    val b = gen.bucketing(sub)
    val exists = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(gen.path(sub)))
    if (exists) registerTable(df.sparkSession, gen, sub)
    df.write.mode(if (exists) "append" else "overwrite").format("parquet")
      .bucketBy(b.numBuckets, b.key).sortBy(b.key)
      .option("path", gen.path(sub)).saveAsTable(gen.table(sub))
  }

  /** Write a model artifact into directory `dir` of an uncommitted
    * generation: rows `(part, i, v)`, where `v` is row `i` of the named
    * model part (a centroid, a codebook entry, a rotation row, a weight
    * vector) as an f64 array — parquet round-trips it exactly. */
  private[graft] def writeModel(spark: SparkSession, dir: String,
      parts: (String, Array[Array[Double]])*): Unit = {
    import spark.implicits._
    parts.flatMap { case (p, rows) => rows.indices.map(i => (p, i, rows(i).toSeq)) }
      .toDF("part", "i", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** The parts of a model artifact written by [[writeModel]], rows in
    * order. */
  private[graft] def readModel(spark: SparkSession, dir: String)
      : Map[String, Array[Array[Double]]] =
    spark.read.parquet(dir).collect().groupBy(_.getString(0)).map { case (p, rows) =>
      p -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }

  /** Register a bucketed artifact over its existing files. The DDL
    * schema comes from the FILES, never a hand-written literal (a
    * drifted literal reads clean at registration and fails at scan
    * time). */
  private def registerTable(spark: SparkSession, gen: Generation, sub: String): Unit = {
    val (b, table, location) = (gen.bucketing(sub), gen.table(sub), gen.path(sub))
    if (!spark.catalog.tableExists(table)) {
      dropPruned(spark, b, gen.dir)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $table (${spark.read.parquet(location).schema.toDDL})
           |USING parquet
           |CLUSTERED BY (${b.key}) SORTED BY (${b.key}) INTO ${b.numBuckets} BUCKETS
           |LOCATION '$location'""".stripMargin)
    }
  }

  /** Drop this artifact's catalog tables whose generation directory is
    * gone. [[prune]] drops the tables of the generations it deletes,
    * but only in the JVM that commits: a serving JVM whose store
    * another process appends or compacts would otherwise keep one entry
    * per generation it ever registered, over pruned files. Run once per
    * new registration, so the catalog holds at most the generations
    * still on disk. */
  private def dropPruned(spark: SparkSession, b: Bucketing, genDir: String): Unit = {
    val root = java.nio.file.Paths.get(genDir).getParent
    // a generation suffix exactly (fp hex, UUID nonce): another store's
    // base may extend this one's (`<base>_dim` vs `<base>`)
    val named = (java.util.regex.Pattern.quote(b.table.toLowerCase) +
      "_([0-9a-f]+_[0-9a-f]{32})").r
    spark.sql(s"SHOW TABLES LIKE '${b.table}_*'").collect().map(_.getAs[String]("tableName"))
      .foreach {
        case t @ named(suffix) if !java.nio.file.Files.isDirectory(root.resolve("gen_" + suffix)) =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
        case _ => ()
      }
  }

  private def register(spark: SparkSession, gen: Generation): Generation = {
    gen.artifacts.filter(_.bucketing.isDefined).foreach(a => registerTable(spark, gen, a.sub))
    gen
  }

  /** Retire a whole store a janitor proved dead: under the build lock
    * `dead` is re-probed (a rival may have re-created the corpus), the
    * sidecar goes FIRST (a crash mid-delete reads as unproven), then
    * every generation and its catalog tables. Returns whether it
    * retired the store. */
  private[graft] def retire(spark: SparkSession, path: String,
      artifacts: Seq[Artifact])(dead: => Boolean): Boolean =
    withBuildLock(path) {
      dead && {
        Dedup.deleteTree(sidecarPath(path).toString)
        prune(spark, path, keep = Set.empty, artifacts)
        Dedup.deleteTree(path)
        true
      }
    }

  /** Delete everything under `path` except the directories in `keep`,
    * dropping the pruned generations' catalog tables: generations two or
    * more commits old (no plan handed out before the previous commit can
    * still be live across a later one without having been re-ensured),
    * uncommitted generations of crashed writers, and legacy flat-layout
    * files. Local-fs walk — the serving warehouse is node-local by
    * design. Streams are closed eagerly (each Files.list/walk holds a
    * directory fd). */
  private def prune(spark: SparkSession, path: String, keep: Set[String],
      artifacts: Seq[Artifact] = Nil): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) return
    val keepNames = keep.map(p => java.nio.file.Paths.get(p).getFileName.toString)
    listDir(root)
      .filterNot(p => keepNames.contains(p.getFileName.toString))
      .foreach { p =>
        if (p.getFileName.toString.startsWith("gen_"))
          artifacts.flatMap(_.bucketing).foreach(b =>
            spark.sql(s"DROP TABLE IF EXISTS ${tableName(b, p.toString)}"))
        Dedup.deleteTree(p.toString)
      }
  }
}
