package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one serving-store lifecycle: every fingerprint-keyed store
  * (posting index, fact layout, LM stats, signature and model stores,
  * ground truth, funnel stamps, resolved enrichment) lives as
  * GENERATIONS under `path`, and every ensure, rebuild, append and
  * compaction takes the same core: build lock → proofs → write a NEW
  * generation → stamp the sidecar → prune.
  *
  * A generation is one directory `path/gen_<fp-hex>_<nonce>` (nonce a
  * random UUID — process-unique, not merely JVM-monotonic). A
  * multi-artifact store holds each artifact as a subdirectory of it.
  * The ONE sidecar at `path + "_model"` carries the fingerprint and the
  * generation name, and is written LAST: a crash anywhere before the
  * stamp leaves the previous generation served (or, on a first build,
  * nothing), never a fresh-looking partial one. Nothing is mutated in
  * place, so no live reader's files ever change: a rebuild can never
  * overwrite a directory a reader holds — not even when a corpus cycles
  * back to a previously-seen fingerprint (A→B→A). Prune keeps the new
  * generation and the sidecar-named previous one (readers handed out
  * before the swap survive one cycle), bounding disk at two
  * generations. When the sidecar is unreadable the previous generation
  * is UNKNOWN, so pruning is skipped rather than guessed. Pre-generation
  * (flat layout) sidecars name no generation and read as unproven: they
  * migrate with one rebuild, which prunes the flat files (this code
  * never hands them to a reader).
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

  /** Typed [[append]] refusals — protocol callers (the streaming
    * [[graft.streaming.SigSink]]) dispatch on the TYPE, never on the
    * human-readable message (the r14 review: substring dispatch turns
    * a message rewording into a stream-killing regression). They
    * extend IllegalArgumentException so existing intercepts and the
    * require-style call sites keep their contract. */
  private[graft] sealed abstract class AppendRefused(msg: String)
      extends IllegalArgumentException(msg)
  /** storedFp != the caller's pre-delta snapshot: the store is stale. */
  private[graft] final class StaleStoreRefusal(msg: String) extends AppendRefused(msg)
  /** The post-delta fingerprint did not advance: delta files not landed. */
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
    * `meta` columns stamped with it. */
  private[graft] final case class Stamped(fp: Long, gen: String,
      meta: Map[String, String]) extends SidecarState
  /** Readable sidecar from the pre-generation flat layout (fp only, no
    * generation name): the flat files are unproven and must migrate —
    * and since this code never serves them, they are safe to prune on
    * the migration rebuild. */
  private[graft] case object LegacyFlat extends SidecarState
  /** Missing or unreadable sidecar: the live generation is UNKNOWN. */
  private[graft] case object Unknown extends SidecarState

  /** Unique directory for a NEW generation build: fingerprint for
    * auditability plus a random-UUID nonce for uniqueness — never
    * reuses a directory a previous build (even of the same fp, even
    * from another process) may have handed to a live reader. */
  private[graft] def newGenerationPath(path: String, fp: Long): String =
    path + "/gen_" + java.lang.Long.toHexString(fp) + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

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

  private def sidecarState(spark: SparkSession, what: String,
      path: String): SidecarState =
    try {
      val df = spark.read.parquet(path + "_model")
      if (!df.columns.contains("gen")) LegacyFlat
      else {
        val r = df.collect()(0)
        Stamped(r.getAs[Long]("fp"), path + "/" + r.getAs[String]("gen"),
          df.columns.filterNot(Set("fp", "gen")).map(c => c -> String.valueOf(r.getAs[Any](c))).toMap)
      }
    } catch {
      // missing-vs-unreadable is distinguished INSIDE
      // warnUnreadableSidecar (a sidecar that does not exist yet is the
      // normal first build and logs nothing; only a present-but-broken
      // one warns) — keep that distinction in one place
      case e if scala.util.control.NonFatal(e) =>
        Similarity.warnUnreadableSidecar(what, path + "_model", e)
        Unknown
    }

  /** (fp, generation dir path) from the sidecar — None when unreadable
    * (warned) or when it predates the generation layout (no warn: that
    * is the documented migration path). */
  private[graft] def readSidecar(spark: SparkSession, what: String,
      path: String): Option[(Long, String)] =
    sidecarState(spark, what, path) match {
      case Stamped(fp, gen, _) => Some((fp, gen))
      case _ => None
    }

  /** The commit: stamp `gen` as the live generation for `fp`. `meta`
    * rides along as extra string columns (the fact layout's corpus dir
    * and shape version: its janitor reads the one, appends check the
    * other). */
  private[graft] def writeSidecar(spark: SparkSession, path: String, fp: Long,
      gen: String, meta: Seq[(String, String)] = Nil): Unit =
    spark.range(1)
      .select((Seq(lit(fp).as("fp"),
        lit(java.nio.file.Paths.get(gen).getFileName.toString).as("gen")) ++
        meta.map { case (k, v) => lit(v).as(k) }): _*)
      .coalesce(1).write.mode("overwrite").parquet(path + "_model")

  /** Age after which another builder's lock is presumed crashed and
    * taken over. Volatile so the adversarial specs can shrink it. */
  @volatile private[graft] var LockStaleMs: Long = 30L * 60 * 1000

  /** Crash-point injection seam for the two-process crash harness
    * ([[graft.tools.StoreContention]]): when the GRAFT_CRASH_POINT env
    * var names this tag, halt the JVM on the spot — `Runtime.halt`
    * runs no shutdown hooks and no finally blocks, the closest
    * in-process stand-in for `kill -9` at an exact line. Generation
    * stores have ONE such point, `<what>.precommit`: the new generation
    * fully written, the sidecar not yet stamped. The ANN compaction
    * keeps its own mid-swap point. Unset in production: one map
    * lookup, no hot path. */
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

  /** Freshness-aware serve memo: the sidecar parquet IS the freshness
    * proof, but re-reading it (plus re-listing the generation files and
    * re-checking catalog registration) costs ~0.1s of driver fixed
    * overhead per serve — paid by every serving-store query every time.
    * The memo keys the served value on a driver-side stat SIGNATURE of
    * the sidecar directory (file names + lengths + mtimes — microseconds
    * on the node-local warehouse): every commit rewrites the sidecar,
    * changing the signature and invalidating the entry, so the
    * freshness semantics are exactly the sidecar read's, minus the
    * parquet round-trips. Session-scoped (frames and catalog
    * registrations bind a session). A multi-artifact hit still re-runs
    * the two checks the sidecar cannot prove — every artifact of the
    * memoized generation holds data, its tables are registered — both
    * driver-local (directory listings, in-memory catalog lookups). */
  private val serveMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, SparkSession, String, AnyRef)]()

  private def sidecarSig(path: String): String = {
    val dir = java.nio.file.Paths.get(path + "_model")
    if (!java.nio.file.Files.isDirectory(dir)) "absent"
    else
      try {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.toSeq
          .map(p => p.getFileName.toString + ":" + java.nio.file.Files.size(p) + ":" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .sorted.mkString("|")
        finally s.close()
      } catch {
        // a concurrent sidecar rewrite (writeSidecar's overwrite deletes
        // the old part files) can vanish a just-listed file before its
        // stat — the signature is mid-change, so return a UNIQUE token:
        // the memo misses and the slow path's own handlers take over,
        // instead of the stat race crashing the query
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
          "racing_" + System.nanoTime()
      }
  }

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

  /** What the proofs decided under the lock: serve a generation a rival
    * already committed, or write a new one stamped `fp`. */
  private sealed trait Decision
  private final case class Serve(gen: String) extends Decision
  private final case class Write(fp: Long) extends Decision

  /** THE write path. Under the build lock, `decide` reads the sidecar's
    * proof (and may refuse by throwing); on [[Write]] a new generation
    * directory gets the `carry` artifacts hard-linked from the
    * committed one, `write(committed, target)` adds the rest, and only
    * then the sidecar is stamped and generations other than {new,
    * previous} pruned. Returns the served generation and the sidecar
    * signature read UNDER the lock (see [[served]]). */
  private def commit(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], meta: Seq[(String, String)], carry: Seq[String])(
      decide: SidecarState => Decision)(
      write: (Option[String], String) => Unit): (String, String) =
    withBuildLock(path) {
      val state = sidecarState(spark, what, path)
      decide(state) match {
        case Serve(gen) => (gen, sidecarSig(path))
        case Write(fp) =>
          val prev = state match { case Stamped(_, g, _) => Some(g); case _ => None }
          val target = newGenerationPath(path, fp)
          for (p <- prev; sub <- carry) link(p + "/" + sub, target + "/" + sub)
          write(prev, target)
          crashPoint(what + ".precommit")
          writeSidecar(spark, path, fp, target, meta)
          state match {
            case Stamped(_, prevGen, _) => prune(spark, path, Set(target, prevGen), artifacts)
            case LegacyFlat => prune(spark, path, Set(target), artifacts)
            case Unknown => ()
          }
          (target, sidecarSig(path))
      }
    }

  /** Hard-link every data file (and its checksum) of a committed
    * artifact directory into a new generation: the carried artifact
    * costs no data write. Job markers are not linked — a later write
    * into the new generation rewrites its marker in place, which must
    * not reach through a link into the committed generation. */
  private def link(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    listDir(java.nio.file.Paths.get(from))
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith("_") ||
        f.getFileName.toString.startsWith("._"))
      .foreach(f => java.nio.file.Files.createLink(dst.resolve(f.getFileName), f))
  }

  /** Ensure a generation fresh for `fp` (every artifact holding data)
    * and serve it through `serve`, memoized per session — the shared
    * ensure of every store. For a multi-artifact store a memo hit
    * re-proves the artifacts and re-runs `serve`, which must therefore
    * be driver-local and cheap (table registration). `force` builds a
    * new generation even when the sidecar already claims `fp` (see
    * [[rebuild]]). */
  private[graft] def served[T <: AnyRef](spark: SparkSession, what: String, path: String,
      fp: Long, artifacts: Seq[Artifact] = Nil, meta: Seq[(String, String)] = Nil,
      force: Boolean = false)(build: String => Unit)(serve: String => T): T = {
    val memoKey = System.identityHashCode(spark).toString + "|" + path
    val sig0 = sidecarSig(path)
    if (!force) Option(serveMemo.get(memoKey)) match {
      // the identity hash is not unique across a collected session's
      // lifetime: verify the entry is bound to THIS session, or a
      // hash-reusing new session would be served a dead session's plan
      case Some((s, f, owner, gen, v)) if s == sig0 && f == fp && (owner eq spark) =>
        if (artifacts.isEmpty) return v.asInstanceOf[T]
        // a lost artifact falls through to the rebuild below
        if (complete(artifacts)(gen)) return serve(gen)
      case _ => ()
    }
    def fresh(state: SidecarState): Option[String] = state match {
      case Stamped(f, g, _) if !force && f == fp && complete(artifacts)(g) => Some(g)
      case _ => None
    }
    // `sig` must be a signature captured BEFORE the sidecar read that
    // chose `gen` (or under the build lock, where commits serialize):
    // a signature recomputed AFTER the choice could bind a concurrent
    // commit's sidecar to the OLD generation, and every later call
    // would memo-hit a pruned generation. With the pre-read signature
    // the worst case is one stale memo MISS on the next call.
    val (gen, sig) = fresh(sidecarState(spark, what, path)) match {
      case Some(g) => (g, sig0)
      case None =>
        commit(spark, what, path, artifacts, meta, carry = Nil)(
          // re-check under the lock: a concurrent builder we waited out
          // has usually stamped the store fresh already — serve it
          state => fresh(state).fold[Decision](Write(fp))(Serve))(
          (_, target) => build(target))
    }
    // a forced rebuild replaces the generation under an unchanged corpus
    // stamp: memoized prepared plans would keep the superseded one
    if (force) graft.PlanCache.invalidate()
    val v = serve(gen)
    // crude bound: one entry per (session, store) — dozens in any real
    // process — but a session-cycling harness would otherwise grow it
    // without limit (each entry pins a session's plans); reset rather
    // than LRU, the rebuild cost is one sidecar read per store
    if (serveMemo.size > 256) serveMemo.clear()
    serveMemo.put(memoKey, (sig, fp, spark, gen, v))
    v
  }

  /** Ensure a single-artifact generation of the store under `path`
    * matching `fp`; `build` must write the store to the directory it is
    * handed. Returns the fresh generation as a lazy parquet read. */
  def ensure(spark: SparkSession, what: String, path: String, fp: Long)(
      build: String => Unit): DataFrame =
    served(spark, what, path, fp)(build)(spark.read.parquet(_))

  /** Unconditionally build and stamp a NEW generation for `fp`, even
    * when the sidecar already claims `fp` — for the one case where the
    * fingerprint is current but the CONTENT is proven incomplete: the
    * streaming-append landing race ([[graft.streaming.SigSink]]), where
    * batch N's `postFp` stamped a fingerprint that also covered batch
    * N+1's files while only N's rows were merged. [[ensure]] cannot
    * repair that state (fp matches, so it serves the incomplete
    * generation); this rebuild covers every landed file by
    * construction. Live readers keep the previous generation for one
    * cycle. */
  private[graft] def rebuild(spark: SparkSession, what: String, path: String,
      fp: Long)(build: String => Unit): DataFrame =
    served(spark, what, path, fp, force = true)(build)(spark.read.parquet(_))

  /** Ensure a multi-artifact generation: `build` writes every artifact
    * into the [[Generation]] it is handed (bucketed ones through
    * [[writeBucketed]]); the served generation has its bucketed tables
    * registered in `spark`'s catalog — on every call, memo hits
    * included. */
  private[graft] def ensureGeneration(spark: SparkSession, what: String, path: String,
      fp: Long, artifacts: Seq[Artifact], meta: Seq[(String, String)] = Nil,
      force: Boolean = false)(build: Generation => Unit): Generation =
    served(spark, what, path, fp, artifacts, meta, force)(
      dir => build(Generation(dir, artifacts)))(
      dir => register(spark, Generation(dir, artifacts)))

  /** The append proofs shared by every store: the committed fingerprint
    * must equal the caller's pre-delta snapshot (else the store is
    * stale — rebuild, don't append), and `postFp`, evaluated under the
    * lock AFTER the caller's invalidations, must differ from it, so a
    * delta whose files never landed cannot stamp fresh-looking state. */
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

  /** Derive a new generation from the committed one — the core of every
    * append and compaction. The committed generation must be proven
    * (stamped with the caller's `meta`, every artifact present) or the
    * call refuses. `nextFp` maps its fingerprint to the new one: an
    * append passes [[landed]] (its proofs), a compaction `identity`
    * (same content). `carry` artifacts are hard-linked, and
    * `write(committed, next)` adds the delta's files and rewrites any
    * artifact not carried. */
  private[graft] def deriveGeneration(spark: SparkSession, what: String, path: String,
      artifacts: Seq[Artifact], carry: Seq[String], meta: Seq[(String, String)] = Nil)(
      nextFp: Long => Long)(write: (Generation, Generation) => Unit): Generation = {
    val (dir, _) = commit(spark, what, path, artifacts, meta, carry) {
      case Stamped(_, g, m) if meta.exists { case (k, v) => !m.get(k).contains(v) } =>
        throw new StaleStoreRefusal(
          s"$what generation at $g is stamped ${m.toSeq.sorted.mkString(", ")} — this " +
            s"engine writes ${meta.mkString(", ")}: its shape predates this engine, " +
            "rebuild instead of deriving a generation from it")
      case Stamped(f, g, _) if complete(artifacts)(g) => Write(nextFp(f))
      case Stamped(_, g, _) => throw new StaleStoreRefusal(
        s"$what generation at $g lacks a committed artifact — rebuild instead " +
          "of deriving a generation from it")
      case LegacyFlat => throw new StaleStoreRefusal(
        s"$what store at $path predates the generation layout — rebuild " +
          "instead of appending into an unproven store")
      case Unknown => throw new IllegalStateException(
        s"$what sidecar at ${path}_model unreadable — run the full ensure " +
          "rebuild instead of appending into an unproven generation")
    } { (prev, next) => write(Generation(prev.get, artifacts), Generation(next, artifacts)) }
    register(spark, Generation(dir, artifacts))
  }

  /** Merge-append a delta into a single-artifact store — the shared
    * incremental-ingest protocol ([[Forecast.appendDayStats]]'s shape):
    * the [[landed]] proofs, then `merge(prev, delta)` writes the new
    * generation. With `uniqueKey` set, delta keys already present in
    * the committed generation are refused loudly — for pure per-row
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
        Dedup.deleteTree(path + "_model")
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
