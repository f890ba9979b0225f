package graft.perfbench

import graft.SparkEntry
import graft.perfbench.Main._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs the operations of one benchmark run from its one client thread.
  * Every operation is construction through
  * `SparkEntry.queries(name)(spark, dir)` followed by a fresh full
  * execution (a new Dataset over the frame, see [[Canon]]); its result
  * is checked against the pins. */
final class Runner(val spark: SparkSession, pins: Map[String, (Long, String)],
    val warehouse: Path, tracing: Boolean) {
  var attempted = 0L
  var failed = 0L
  /** Whether the current operation is traced (a traced run traces every
    * other one). */
  var traced = false
  val errors = mutable.ArrayBuffer.empty[String]
  private var seq = 0
  private val lastFrame = mutable.HashMap.empty[String, DataFrame]
  val log = new Layers.SpanLog
  var parentSpan = 0

  /** Per traced operation: (query, was-cache-hit, lane AQE off, shuffle
    * partitions, layer figures). */
  val tracedOps = mutable.ArrayBuffer.empty[(String, Boolean, Boolean, Int, Map[String, Double])]
  /** Store families created by a construction, with its time (s). */
  val storeBuilds = mutable.ArrayBuffer.empty[(String, Double)]

  /** Peak old-generation occupancy right after any GC, from the
    * collectors' notifications (the pool's own collection usage only
    * moves on an old-generation collection, which a short run may never
    * see). */
  @volatile var heapLivePeak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (pool.contains("Old") || pool.contains("Tenured"))
              heapLivePeak = math.max(heapLivePeak, u.getUsed)
          }
        }
      }, null, null)
    case _ => ()
  }

  private def storeDirs(): Set[String] =
    Option(warehouse.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  /** Run one operation; returns its wall time in seconds, or None when
    * it failed (threw, or its result did not match the pin). */
  def op(name: String, dir: String, check: Boolean = true): Option[Double] = {
    seq += 1
    val id = s"$name#$seq"
    val sc = spark.sparkContext
    if (traced) {
      Tracer.currentOp = id
      sc.setLocalProperty(Tracer.OpKey, id)
      sc.setLocalProperty(Tracer.SpanKey, "construct")
    }
    attempted += 1
    val before = storeDirs()
    val cs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ce = cs
    var pe = cs
    var result: Option[Double] = None
    var df: DataFrame = null
    try {
      df = SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      ce = System.currentTimeMillis()
      if (traced) sc.setLocalProperty(Tracer.SpanKey, "execute")
      val ds = Canon.project(df)
      if (traced) Tracer.execQe = ds.queryExecution
      // the plan is forced on its own, so Catalyst's phases, on Spark's
      // clock, can be held against this separately clocked span
      ds.queryExecution.executedPlan
      pe = System.currentTimeMillis()
      val rows = ds.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val created = storeDirs() -- before
      if (created.nonEmpty) storeBuilds += ((families(created, dir), (t1 - t0) / 1e9))
      val got = Canon.checksum(rows)
      pins.get(name) match {
        case Some(want) if check && want != got =>
          failed += 1
          errors += s"$name: result $got != pin $want"
        case _ => result = Some(wall)
      }
    } catch {
      case e if scala.util.control.NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      val xe = System.currentTimeMillis()
      val clock = (System.nanoTime() - t0) / 1e9
      // drained after every operation of a traced run, untraced ones too,
      // so no operation's events reach the listeners during the next one
      if (tracing) org.apache.spark.PerfbenchBus.drain(sc)
      if (traced) {
        val recs = Tracer.take(id)
        if (df != null) {
          val hit = lastFrame.get(name).exists(_ eq df)
          val lane = df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false"
          val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
          tracedOps += ((name, hit, lane, parts,
            Layers.summarize(recs, name, cs, ce, pe, xe, log, parentSpan) + ("clock_s" -> clock)))
        }
        Tracer.currentOp = null
        Tracer.execQe = null
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
      if (df != null) lastFrame(name) = df
    }
    result
  }

  /** Store family of each new warehouse entry: its name up to the
    * corpus dir part, so `minhash_sigs_<dir>_<digest>` reads
    * `minhash_sigs`. */
  private def families(created: Set[String], dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    created.map { n =>
      val i = n.indexOf(key)
      (if (i > 0) n.substring(0, i) else n).stripSuffix("_")
    }.toSeq.sorted.distinct.mkString("+")
  }
}

object Bench {
  def run(a: Main.Args): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val t0Ms = a("t0").toLong
    val data = Paths.get(a("data")).toAbsolutePath
    val runDir = Paths.get("").toAbsolutePath
    val pins = readPins(a("pins"))

    val spark = Main.session(trace)
    val recompute = RecomputeCounter.attach()
    if (trace) spark.sparkContext.addSparkListener(new JobListener)
    val sessionReady = System.currentTimeMillis()
    val r = new Runner(spark, pins, runDir.resolve("spark-warehouse"), trace)
    val corpusBytes = Main.dirBytes(data)

    val wl: Workload = workload match {
      case "market_sf001" => new QueryLoop(Main.Market)
      case "corpus_sf001" => new QueryLoop(Main.Corpus)
      case "ingest_sf001" => new Ingest(seed, Paths.get(a("stage")))
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: build every store the workload needs on an empty
    // warehouse over a fresh corpus copy, then warm up
    val runSpan = r.log.reserve(0)
    val wlSpan = r.log.reserve(runSpan)
    val setupSpan = r.log.reserve(wlSpan)
    r.parentSpan = setupSpan
    r.traced = trace
    Tracer.enabled = trace
    val loopDir = runDir.resolve("corpus").toString
    val setupStart = System.currentTimeMillis()
    wl.setup(r, data, Paths.get(loopDir))
    val setupEnd = System.currentTimeMillis()
    val setupS = (sessionReady - t0Ms + setupEnd - setupStart) / 1000.0
    val builds = r.storeBuilds.toList
    val setupOps = r.tracedOps.size

    val loopSpan = r.log.reserve(wlSpan)
    r.parentSpan = loopSpan
    val loopStart = System.currentTimeMillis()
    val loop = wl.loop(r, loopDir, seed, seconds, trace)
    val loopEnd = System.currentTimeMillis()
    r.log.set(runSpan, "run", t0Ms, loopEnd)
    r.log.set(wlSpan, "workload." + workload, setupStart, loopEnd)
    r.log.set(setupSpan, "setup", setupStart, setupEnd)
    r.log.set(loopSpan, "loop", loopStart, loopEnd)

    val storeKey = loopDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val storeBytes = Option(r.warehouse.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(storeKey)).map(f => Main.dirBytes(f.toPath)).sum
    val generations = Option(r.warehouse.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(storeKey))
      .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty))
      .count(_.getName.startsWith("gen_"))
    val end2end = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((setupS, "s")),
      "query_p50_s" -> ((quantile(loop.queryMedians, 0.5), "s")),
      "query_p90_s" -> ((quantile(loop.queryMedians, 0.9), "s")),
      "qps" -> ((loop.ops / loop.elapsed, "1/s")),
      "heap_live_peak_mb" -> ((r.heapLivePeak / 1048576.0, "MB")),
      "store_amp" -> ((storeBytes.toDouble / Main.dirBytes(Paths.get(loopDir)), "ratio")),
      "error_rate" -> ((r.failed.toDouble / math.max(1L, r.attempted), "ratio")))
    loop.extra.foreach { case (k, v) => end2end(k) = v }

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val ops = r.tracedOps.drop(setupOps).toSeq
        Summary.layers(ops, loop, builds,
          recompute.get.toDouble, storeBytes, generations) ++
          Kernels.measure(spark, loopDir)
      }

    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    val env = Map(
      "seed" -> seed, "workload" -> workload, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> graft.GraftSession.cpus.toInt,
      "heap_mb" -> heapMb, "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version, "corpus_bytes" -> corpusBytes,
      "setup_s" -> (setupEnd - setupStart) / 1000.0, "jvm_to_session_s" -> (sessionReady - t0Ms) / 1000.0,
      "loop_ops" -> loop.ops, "loop_s" -> loop.elapsed)
    Main.writeJson(a("out"), Map(
      "correct" -> (r.failed == 0 && loop.correct),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "end_to_end" -> end2end.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers,
      "store_builds" -> builds,
      "traced_ops" -> r.tracedOps.drop(setupOps).map { case (q, hit, lane, parts, m) =>
        Map("query" -> q, "hit" -> hit, "interactive" -> lane, "partitions" -> parts) ++ m },
      "per_query_s" -> loop.perQuery,
      "errors" -> r.errors.take(50),
      "notes" -> loop.notes,
      "env" -> env,
      "spans" -> (if (trace) r.log.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.start, s.end, s.self)) else Nil)))
    spark.stop()
  }
}

/** What a workload's timed loop reports. */
final class LoopResult {
  /** Per query, latencies of its traced and of its untraced operations
    * (a traced run), for the tracing overhead. */
  val tracedLat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  val untracedLat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var elapsed = 0.0
  var correct = true
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerExtra = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  /** Median over queries timed both ways of traced / untraced latency,
    * minus 1. */
  def traceOverhead: Double = Main.median(tracedLat.keys.filter(untracedLat.contains).toSeq.map(q =>
    Main.median(tracedLat(q).toSeq) / Main.median(untracedLat(q).toSeq))) - 1.0

  /** Each query's median latency. The loop runs whole rounds, so every
    * query weighs the same; the workload's latency percentiles are taken
    * over these, which keeps one slow operation of one query from
    * moving them. */
  def ops: Int = perQuery.values.map(_.size).sum

  def queryMedians: Seq[Double] = perQuery.values.map(v => Main.median(v.toSeq)).toSeq

  def add(name: String, s: Double, traced: Boolean): Unit = {
    (if (traced) tracedLat else untracedLat).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
  }
}

trait Workload {
  /** Timed as set-up: build the workload's stores over a corpus at `dir`
    * on an empty warehouse, and warm up. */
  def setup(r: Runner, data: Path, dir: Path): Unit
  def loop(r: Runner, dir: String, seed: Long, seconds: Double, trace: Boolean): LoopResult
}

/** market_sf001 / corpus_sf001: whole rounds over the query set, each
  * round in a seeded order. A traced run traces every other operation,
  * so each query is timed both ways and the run measures its own
  * tracing overhead. */
final class QueryLoop(queries: Seq[String]) extends Workload {
  private val MinRounds = 3
  private val WarmupPasses = 6

  /** Builds the stores and warms up with [[WarmupPasses]] passes over
    * the queries: after one pass the first timed round ran ~40% slower
    * than the later ones, after two the first half of a 24 s loop still
    * ran ~10% slower than its second half. */
  def setup(r: Runner, data: Path, dir: Path): Unit = {
    Main.copyTree(data, dir)
    (1 to WarmupPasses).foreach(_ => queries.sorted.foreach(q => r.op(q, dir.toString)))
  }

  def loop(r: Runner, dir: String, seed: Long, seconds: Double, trace: Boolean): LoopResult = {
    val res = new LoopResult
    val t = System.nanoTime()
    var round = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t) / 1e9
    // whole rounds while the next one, as long as the last, still fits;
    // at least three, so each query's median outvotes one slow operation
    while (round < MinRounds || elapsed + last <= seconds) {
      val r0 = elapsed
      new scala.util.Random(seed * 1000003L + round).shuffle(queries).zipWithIndex.foreach {
        case (q, i) =>
          // every other operation traced, the parity flipping by round
          r.traced = trace && (i + round) % 2 == 0
          Tracer.enabled = r.traced
          r.op(q, dir).foreach(res.add(q, _, r.traced))
      }
      last = elapsed - r0
      round += 1
    }
    Tracer.enabled = false
    r.traced = false
    res.elapsed = elapsed
    res.notes += s"$round rounds of ${queries.size} queries"
    res
  }
}
