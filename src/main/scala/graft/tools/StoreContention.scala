package graft.tools

import graft.GraftSession
import graft.operators.ServingStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TWO-PROCESS contention stress for the serving-store protocol (r13
  * verdict #5): the lock/heartbeat/tombstone machinery is spec'd
  * in-process (threads in one JVM share the JVM's file-lock view and a
  * common heap); the r11 orphan-generation race was MULTI-SESSION, so
  * this drives two separate JVMs — real `java` children over the
  * compiled classes + the Spark jars — concurrently ensuring and
  * appending the same store and asserts, from both sides:
  *
  *  - NO TORN SIDECAR: every serve returns exactly the generation its
  *    requested fingerprint stamps — all rows tagged with the fp, full
  *    row count (a torn/mixed sidecar read would serve a partial or
  *    mismatched generation and trip the in-worker assertion).
  *  - NO DOUBLE-BUILD CORRUPTION: builds count their invocations into
  *    per-process marker files; after the run the store's surviving
  *    generation parses, and the generation directory holds at most
  *    the sidecar-stamped generation plus one predecessor.
  *  - READERS SURVIVE ONE REBUILD: a DataFrame served before a rival
  *    process rebuilds the store (fp bump) must still collect() after
  *    that rebuild — prune keeps the previous generation for exactly
  *    this window (file handshake sequences the two processes).
  *  - NO LOCK/TOMBSTONE LITTER: after both workers exit, no `_lock`
  *    and no `*_lock_tomb_*` path survives next to the store.
  *
  * r16 additions (r15 verdict #2 — the locking sweep landed after the
  * r15 contention run, so the LIVE-PATH stores had never seen a real
  * two-JVM race):
  *
  *  - MULTI-ARTIFACT PHASES (4-5): two processes race the
  *    fact-layout build, run lockstep order-complete appends, race a
  *    compaction against a live reader (which must never fail: a frame
  *    held across the compaction and every fresh serve during it return
  *    the pre-compaction result), and race the posting-index, LM-stats
  *    and ANN-index ensures — cross-checked against a cold
  *    single-process rebuild over the full corpus.
  *  - KILL -9 CRASH INJECTION: separate JVMs are halted (137) at the
  *    generation stores' single pre-commit point (new generation
  *    written, sidecar not stamped) of the fact-layout and posting
  *    compactions, and inside the ANN compaction's swap window
  *    (GRAFT_CRASH_POINT seam); then a fresh recovery JVM must serve
  *    results identical to pre-crash, take over the dead holders'
  *    stale locks by compacting again, and leave at most two
  *    generations per store.
  *
  * Run: `sbt 'runMain graft.tools.StoreContention'` (driver mode —
  * spawns the two workers itself; requires a prior `sbt compile`).
  * Not part of the driver contract.
  */
object StoreContention {

  private val Rounds = 8
  private val RowsPerGen = 100

  def main(args: Array[String]): Unit = args.toList match {
    case "worker" :: name :: base :: Nil => worker(name, base)
    case "crashfact" :: base :: Nil =>
      graft.operators.StarSchema.compactFactLayout(
        GraftSession.local("graft-crashfact"), base + "/corpus")
      sys.error("fact-layout.precommit crash point did not fire")
    case "crashpostings" :: base :: Nil =>
      graft.operators.Dedup.compactPostings(
        GraftSession.local("graft-crashpostings"), base + "/corpus")
      sys.error("posting-index.precommit crash point did not fire")
    case "crashann" :: base :: Nil =>
      val s = GraftSession.local("graft-crashann")
      graft.operators.Similarity.knnIvfServe(s, base + "/corpus").count()
      graft.operators.Similarity.compactIvf(s,
        graft.operators.Similarity.ivfServePath(base + "/corpus"))
      sys.error("ann.compact.midswap crash point did not fire")
    case "recover" :: base :: Nil => recover(base)
    case _ => driver()
  }

  // ------------------------------------------------------------ driver

  private def driver(): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graftcontend").toString
    println(s"[contend] base=$base")
    val classes = "target/scala-2.13/classes"
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(classes)),
      s"run from the repo root after `sbt compile` (missing $classes)")
    val cp = classes + ":/opt/spark/jars/*"
    def spawn(mode: String, extra: Seq[String],
        env: Map[String, String] = Map.empty): Process = {
      val pb = new ProcessBuilder(
        (Seq("java", "-Xmx4g",
          "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
          "-cp", cp, "graft.tools.StoreContention", mode) ++ extra): _*)
      env.foreach { case (k, v) => pb.environment().put(k, v); () }
      pb.redirectErrorStream(true)
      pb.redirectOutput(java.io.File.createTempFile(s"contend_$mode", ".log"))
      pb.start()
    }
    // corpus prep for the LIVE-PATH phases (r15 verdict #2): a real
    // TPC-H-shaped corpus the workers will race fact-layout builds,
    // order-complete appends, postings/ANN ensures and a compaction
    // over — plus the two delta slices and a full-corpus twin for the
    // cold-rebuild cross-check
    val prep = GraftSession.local("graft-contend-prep")
    val corpus = base + "/corpus"
    val cold = base + "/coldcorpus"
    val sfSrc = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    Seq("customer", "nation", "region", "part", "supplier",
      "documents", "embeddings").foreach { t =>
      val df = prep.read.parquet(s"$sfSrc/$t.parquet")
      df.write.mode("overwrite").parquet(s"$corpus/$t.parquet")
      df.write.mode("overwrite").parquet(s"$cold/$t.parquet")
    }
    val orders = prep.read.parquet(s"$sfSrc/orders.parquet").localCheckpoint()
    val lineitem = prep.read.parquet(s"$sfSrc/lineitem.parquet").localCheckpoint()
    val cuts = orders.stat.approxQuantile("o_orderkey", Array(0.6, 0.8), 0.0)
    orders.filter(col("o_orderkey") <= cuts(0))
      .write.mode("overwrite").parquet(s"$corpus/orders.parquet")
    lineitem.filter(col("l_orderkey") <= cuts(0))
      .write.mode("overwrite").parquet(s"$corpus/lineitem.parquet")
    Seq(("d1", cuts(0), cuts(1)), ("d2", cuts(1), Double.MaxValue)).foreach {
      case (tag, lo, hi) =>
        orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
          .write.mode("overwrite").parquet(s"$base/${tag}_orders.parquet")
        lineitem.filter(col("l_orderkey") > lo && col("l_orderkey") <= hi)
          .write.mode("overwrite").parquet(s"$base/${tag}_lineitem.parquet")
    }
    orders.write.mode("overwrite").parquet(s"$cold/orders.parquet")
    lineitem.write.mode("overwrite").parquet(s"$cold/lineitem.parquet")
    prep.stop()
    val a = spawn("worker", Seq("a", base)); val b = spawn("worker", Seq("b", base))
    val okA = a.waitFor(15, java.util.concurrent.TimeUnit.MINUTES) && a.exitValue() == 0
    val okB = b.waitFor(15, java.util.concurrent.TimeUnit.MINUTES) && b.exitValue() == 0
    a.destroyForcibly(); b.destroyForcibly()
    require(okA && okB, s"worker failure: a=$okA b=$okB — see /tmp/contend_*.log")

    // post-run litter + generation-count audit, from the outside
    val store = java.nio.file.Paths.get(base, "store")
    val siblings = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    require(!siblings.exists(_.contains("_lock")),
      s"lock/tombstone litter survived the run: $siblings")
    val gens = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(store)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    require(gens.size <= 2, s"more than two generations survived: $gens")
    val spark = GraftSession.local("graft-contend-audit")
    val (fp, gen) = ServingStore.readSidecar(spark, "contend", store.toString)
      .getOrElse(sys.error("sidecar unreadable after the contention run"))
    val rows = spark.read.parquet(gen).collect()
    require(rows.length == RowsPerGen && rows.forall(_.getLong(1) == fp),
      s"stamped generation inconsistent: ${rows.length} rows for fp $fp")
    println(s"[contend] PASS: 2-process ensure/append/reader contention clean " +
      s"(final fp $fp, ${rows.length} rows, ${gens.size} generations)")

    // ---- live-path phases' cross-process audit (r15 verdict #2) ----
    def readFlag(n: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(base, n)), "UTF-8")
    Seq("phase4_sig", "phase4b_sig", "phase4c_sig", "phase5_ngram", "phase5_lm", "phase5_ivf")
      .foreach { tag =>
        require(readFlag(s"${tag}_a") == readFlag(s"${tag}_b"),
          s"$tag diverged between the two processes: " +
            s"${readFlag(s"${tag}_a")} vs ${readFlag(s"${tag}_b")}")
      }
    require(readFlag("phase4b_sig_a") == readFlag("phase4c_sig_a"),
      "compaction changed the fact layout's results")
    // cold-rebuild cross-check: one fresh build over the FULL corpus
    // must match the two-process append chain bit-for-bit
    val corpusDir = base + "/corpus"
    val coldSig = {
      val (n, h) = Golden.checksum(
        graft.operators.StarSchema.starJoinServed(spark, cold))
      s"$n|$h"
    }
    require(coldSig == readFlag("phase4b_sig_a"),
      s"two-process append chain diverged from a cold rebuild: " +
        s"$coldSig vs ${readFlag("phase4b_sig_a")}")
    // no lock litter on any live-path store
    val livePaths = Seq(
      graft.operators.StarSchema.factServePath(corpusDir),
      graft.operators.Dedup.postingsServePath(corpusDir),
      graft.operators.Curation.lmStatsPath(corpusDir),
      graft.operators.Similarity.ivfServePath(corpusDir))
    livePaths.foreach { p =>
      require(!java.nio.file.Files.exists(ServingStore.lockPath(p)),
        s"build lock litter survived at $p")
    }
    println("[contend] PASS: fact/postings/LM/ANN contention clean " +
      "(append chain == cold rebuild, compaction invariant, " +
      s"${readFlag("phase4c_serves")} identical serves during the compaction, no lock litter)")
    spark.stop()

    // ---- kill -9 crash injection ----
    // each scenario: spawn a process that halts (137) at a compaction's
    // crash point, then a FRESH recovery JVM (takeover after the lock
    // goes stale) must serve results identical to the pre-crash state.
    Seq("crashfact", "crashpostings", "crashann").foreach { mode =>
      val c = spawn(mode, Seq(base), env = Map("GRAFT_CRASH_POINT" -> (mode match {
        case "crashfact" => "fact-layout.precommit"
        case "crashpostings" => "posting-index.precommit"
        case _ => "ann.compact.midswap"
      })))
      val done = c.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
      val code = if (done) c.exitValue() else { c.destroyForcibly(); -1 }
      require(code == 137, s"$mode: expected halt(137) at the crash point, got $code")
      println(s"[contend] $mode halted at its crash point as injected")
    }
    val r = spawn("recover", Seq(base))
    require(r.waitFor(20, java.util.concurrent.TimeUnit.MINUTES) && r.exitValue() == 0,
      "recovery JVM failed — see /tmp/contend_recover*.log")
    val expected = Seq(readFlag("phase4c_sig_a"), readFlag("phase5_ngram_a"),
      readFlag("phase5_ivf_a")).mkString(";")
    Seq("recover_sig", "recover_compacted_sig").foreach { f =>
      require(readFlag(f) == expected,
        s"post-crash $f diverged from pre-crash state:\n  got  ${readFlag(f)}\n  want $expected")
    }
    Seq(graft.operators.StarSchema.factServePath(corpusDir),
        graft.operators.Dedup.postingsServePath(corpusDir)).foreach { p =>
      val gens = new java.io.File(p).list().count(_.startsWith("gen_"))
      require(gens <= 2, s"$gens generations survived the recovery at $p")
      require(!java.nio.file.Files.exists(ServingStore.lockPath(p)),
        s"crashed holder's lock survived the recovery at $p")
    }
    println("[contend] PASS: kill-9 at the fact/postings pre-commit points and the ANN " +
      "mid-swap window — results identical, stale locks taken over, orphans pruned")
  }

  // ------------------------------------------------------------ worker

  private def build(spark: SparkSession, fp: Long)(gen: String): Unit =
    spark.range(RowsPerGen)
      .select(col("id"), lit(fp).as("fp"))
      .write.mode("overwrite").parquet(gen)

  private def serveAndCheck(spark: SparkSession, store: String, fp: Long): Unit = {
    val rows = ServingStore.ensure(spark, "contend", store, fp)(build(spark, fp))
      .collect()
    require(rows.length == RowsPerGen,
      s"fp $fp served ${rows.length} rows — torn generation")
    require(rows.forall(_.getLong(1) == fp),
      s"fp $fp served rows of another generation: " +
        rows.map(_.getLong(1)).distinct.mkString(","))
  }

  private def touch(p: java.nio.file.Path): Unit =
    java.nio.file.Files.write(p, Array.emptyByteArray)

  private def await(p: java.nio.file.Path): Unit = {
    val deadline = System.currentTimeMillis() + 10 * 60 * 1000
    while (!java.nio.file.Files.exists(p)) {
      require(System.currentTimeMillis() < deadline, s"timed out waiting for $p")
      Thread.sleep(100)
    }
  }

  private def worker(name: String, base: String): Unit = {
    val spark = GraftSession.local(s"graft-contend-$name")
    val store = base + "/store"
    val flags = java.nio.file.Paths.get(base)

    // phase 1 — free-for-all ensure contention over a rising fp chain:
    // both processes race every generation; whoever wins builds, the
    // loser must wait out the winner's lock and serve the winner's
    // build. Every serve is checked for fp purity and full row count.
    (1 to Rounds).foreach { i => serveAndCheck(spark, store, i.toLong) }
    touch(flags.resolve(s"phase1_$name"))
    await(flags.resolve(if (name == "a") "phase1_b" else "phase1_a"))

    // phase 2 — reader survival across a RIVAL process's rebuild:
    // `a` serves fp=100 and holds the plan; `b` rebuilds at fp=101;
    // `a` must still collect the held plan (prune keeps one
    // predecessor generation for exactly this window).
    if (name == "a") {
      val held = ServingStore.ensure(spark, "contend", store, 100L)(build(spark, 100L))
      require(held.collect().length == RowsPerGen)
      touch(flags.resolve("a_holding"))
      await(flags.resolve("b_rebuilt"))
      val again = held.collect()
      require(again.length == RowsPerGen && again.forall(_.getLong(1) == 100L),
        "held reader plan broke after one rival rebuild — predecessor pruned early")
    } else {
      await(flags.resolve("a_holding"))
      serveAndCheck(spark, store, 101L)
      touch(flags.resolve("b_rebuilt"))
    }
    touch(flags.resolve(s"phase2_$name"))
    await(flags.resolve(if (name == "a") "phase2_b" else "phase2_a"))

    // phase 3 — append under contention, lockstep: each process lands
    // its own disjoint delta on an agreed fp chain (a: even rounds,
    // b: odd). The append protocol's staleness proof requires the
    // exact stored fp, so the chain is sequenced by handshake files;
    // the LOCK correctness under two JVMs is what is under test (the
    // whole append runs inside withBuildLock).
    val appendRounds = 4
    serveAndCheck(spark, store, 200L)
    // both must finish the fp=200 ensure BEFORE any append: a straggler
    // ensure(200) against an already-appended (restamped) sidecar would
    // legitimately REBUILD at 200 and clobber the append chain — that
    // is correct protocol behavior (stale-fp callers rebuild), so the
    // harness sequences it away to keep the chain decidable
    touch(flags.resolve(s"pre_append_$name"))
    await(flags.resolve(if (name == "a") "pre_append_b" else "pre_append_a"))
    (0 until appendRounds).foreach { r =>
      val mine = (r % 2 == 0) == (name == "a")
      if (mine) {
        if (r > 0) await(flags.resolve(s"append_${r - 1}"))
        ServingStore.append(spark, "contend", store,
          expectedFp = 200L + r,
          delta = spark.range(10)
            .select((col("id") + 1000L * (r + 1)).as("id"),
              lit(201L + r).as("fp")),
          postFp = () => 201L + r,
          uniqueKey = Some("id"))
        touch(flags.resolve(s"append_$r"))
      } else await(flags.resolve(s"append_$r"))
    }
    // both processes read the final appended state and check it holds
    // every delta exactly once
    val finalRows = ServingStore.ensure(spark, "contend", store,
      200L + appendRounds)(_ => sys.error("final state must serve, not rebuild"))
      .collect()
    require(finalRows.length == RowsPerGen + 10 * appendRounds,
      s"appended store holds ${finalRows.length} rows, " +
        s"expected ${RowsPerGen + 10 * appendRounds}")
    // both must finish the serve-only final check before the closing
    // rebuild restamps the sidecar (same decidability sequencing as
    // pre_append above)
    touch(flags.resolve(s"final_check_$name"))
    await(flags.resolve(if (name == "a") "final_check_b" else "final_check_a"))
    // rebuild once more so the driver audit sees a clean stamped
    // generation (both processes race it; either's build is fine)
    serveAndCheck(spark, store, 300L)

    // ------------------------------------------------ live-path phases
    // (r15 verdict #2: the fact layout, posting index and ANN index
    // mutate LIVE paths under the build lock — the very stores the r15
    // locking sweep covered, never before exercised across two JVMs)
    import graft.operators.{Curation, Dedup, Similarity, StarSchema}
    val corpus = base + "/corpus"
    def writeFlag(n: String, v: String): Unit =
      java.nio.file.Files.write(flags.resolve(n), v.getBytes("UTF-8"))
    def starSig(): String = {
      val (n, h) = Golden.checksum(StarSchema.starJoinServed(spark, corpus))
      s"$n|$h"
    }
    def handshake(tag: String): Unit = {
      touch(flags.resolve(s"${tag}_$name"))
      await(flags.resolve(s"${tag}_${if (name == "a") "b" else "a"}"))
    }
    // phase 4a — both processes race the fact-layout build; the loser
    // must wait out the winner's lock and register the winner's layout
    writeFlag(s"phase4_sig_$name", starSig())
    handshake("phase4")
    // phase 4b — order-complete delta appends, lockstep (the append
    // protocol's staleness proof needs the exact stored fp, so the
    // chain is sequenced; the LOCK across two JVMs is what's under test)
    def land(tag: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val o = spark.read.parquet(s"$base/${tag}_orders.parquet").localCheckpoint()
      val li = spark.read.parquet(s"$base/${tag}_lineitem.parquet").localCheckpoint()
      o.write.mode("append").parquet(s"$corpus/orders.parquet")
      li.write.mode("append").parquet(s"$corpus/lineitem.parquet")
      (li, o)
    }
    if (name == "a") {
      val preFp = StarSchema.factFingerprint(spark, corpus)
      val (li, o) = land("d1")
      StarSchema.appendFactLayout(spark, corpus, li, o, Some(preFp))
      touch(flags.resolve("append4_a"))
      await(flags.resolve("append4_b"))
    } else {
      await(flags.resolve("append4_a"))
      val preFp = StarSchema.factFingerprint(spark, corpus)
      val (li, o) = land("d2")
      StarSchema.appendFactLayout(spark, corpus, li, o, Some(preFp))
      touch(flags.resolve("append4_b"))
    }
    writeFlag(s"phase4b_sig_$name", starSig())
    handshake("phase4b")
    // phase 4c — compaction vs a live reader: `b` holds a frame served
    // before `a` compacts and polls the serve path during it. A
    // compaction commits a new generation and keeps the previous one,
    // so no serve may fail or differ, and the held frame must collect
    // the same rows after the compaction.
    val appendedSig = starSig()
    if (name == "a") {
      await(flags.resolve("held4c_b"))
      StarSchema.compactFactLayout(spark, corpus)
      touch(flags.resolve("compact4_done"))
    } else {
      val held = StarSchema.starJoinServed(spark, corpus)
      touch(flags.resolve("held4c_b"))
      var done = false
      var serves = 0
      while (!done) {
        done = java.nio.file.Files.exists(flags.resolve("compact4_done"))
        require(starSig() == appendedSig, "a serve during the compaction diverged")
        serves += 1
      }
      writeFlag("phase4c_serves", serves.toString)
      val (n, h) = Golden.checksum(held)
      require(s"$n|$h" == appendedSig, "a frame held across the compaction diverged")
    }
    writeFlag(s"phase4c_sig_$name", starSig())
    handshake("phase4c")
    // phase 5 — posting-index, LM-stats and ANN-index build races (cold
    // stores, both processes ensure concurrently; serve twice for
    // stability)
    val n1 = Dedup.ngramJaccardServe(spark, corpus).count()
    require(n1 == Dedup.ngramJaccardServe(spark, corpus).count(),
      "ngram serve unstable across calls")
    writeFlag(s"phase5_ngram_$name", n1.toString)
    handshake("phase5n")
    def lmSig(): String = {
      val (n, h) = Golden.checksum(Curation.lmScore(spark, corpus))
      s"$n|$h"
    }
    val lm1 = lmSig()
    require(lm1 == lmSig(), "LM-stats serve unstable across calls")
    writeFlag(s"phase5_lm_$name", lm1)
    handshake("phase5l")
    val k1 = Similarity.knnIvfServe(spark, corpus).count()
    require(k1 == Similarity.knnIvfServe(spark, corpus).count(),
      "ivf serve unstable across calls")
    writeFlag(s"phase5_ivf_$name", k1.toString)
    handshake("phase5v")
    spark.stop()
  }

  // ----------------------------------------------------------- recover

  /** Fresh-JVM recovery after the injected kill -9s: the generation
    * stores still name their pre-crash generations, so they serve
    * without a rebuild; the ANN store detects its unproven state and
    * rebuilds. Then both generation stores compact again — which must
    * take the dead holders' stale locks over (staleness bound shrunk)
    * and prune the crashed writers' uncommitted generations — and
    * serve once more. Both results are written for the driver. */
  private def recover(base: String): Unit = {
    import graft.operators.{Dedup, Similarity, StarSchema}
    val spark = GraftSession.local("graft-contend-recover")
    ServingStore.LockStaleMs = 3000
    Thread.sleep(4000)
    val corpus = base + "/corpus"
    def sig(): String = {
      val (n, h) = Golden.checksum(StarSchema.starJoinServed(spark, corpus))
      val ngram = Dedup.ngramJaccardServe(spark, corpus).count()
      val ivf = Similarity.knnIvfServe(spark, corpus).count()
      s"$n|$h;$ngram;$ivf"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(base, "recover_sig"),
      sig().getBytes("UTF-8"))
    StarSchema.compactFactLayout(spark, corpus)
    Dedup.compactPostings(spark, corpus)
    java.nio.file.Files.write(java.nio.file.Paths.get(base, "recover_compacted_sig"),
      sig().getBytes("UTF-8"))
    spark.stop()
  }
}
