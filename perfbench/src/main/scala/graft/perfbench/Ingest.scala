package graft.perfbench

import graft.operators.{Dedup, Forecast, Multimodal}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** ingest workload: writes beside reads. The corpus starts as a base: a
  * fixed share of the orders (with their lineitems) and of the documents
  * is held back as deltas, the seed choosing which keys by a hash
  * (staged by `run.py` under `stage`: `base/`,
  * `slice_<k>/`, `manifest.json`), with the serving stores built over
  * it. Slice 0 lands during set-up, as warm-up; the loop then lands the
  * other order-complete delta slices in turn; for each it
  * snapshots the pre-delta fingerprints, lands the files, calls the
  * public appends and reads the queries those stores serve. After the
  * last slice the corpus equals the benchmark corpus again, and every
  * served answer must match its pin. */
final class Ingest(seed: Long, stage: Path) extends Workload {
  import Ingest.Fps
  /** Queries served by the appended stores. */
  val Served: Seq[String] = Seq("q_forecast_linear", "q_dedup_minhash", "q_image_phash")

  /** (store family, seconds) of every append call. */
  private val appendTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val Cut = Seq("orders", "lineitem", "documents")
  /** Rows per delta slice, from the stage's manifest. */
  private val sliceRows: IndexedSeq[Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(stage.resolve("manifest.json").toFile)
    m.get("slice_rows").elements().asScala.map(_.asLong).toIndexedSeq
  }
  private val Slices = sliceRows.size
  private val MinRounds = 5
  /** Read rounds per second of `seconds`: a round of the three served
    * queries takes about 0.33 s on 4 cores, so with the two timed
    * deliveries (about 5 s each) the loop lasts about `seconds`. */
  private val RoundsPerSecond = 2.0
  private val WarmupRounds = 5

  /** Copy a staged part's data files into the corpus table directory. */
  private def land(part: String, dir: Path): Unit = Cut.foreach { t =>
    val to = dir.resolve(s"$t.parquet")
    Files.createDirectories(to)
    val files = Files.list(stage.resolve(part).resolve(s"$t.parquet"))
    try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, to.resolve(s"$part-${f.getFileName}"),
        StandardCopyOption.COPY_ATTRIBUTES))
    finally files.close()
  }

  /** The base's stores, one warm-up read of each served query, then
    * slice 0 as a warm-up delta followed by [[WarmupRounds]] rounds of
    * served reads, so the timed slices run warm. */
  def setup(r: Runner, data: Path, dir: Path): Unit = {
    Main.copyTree(data, dir)
    Cut.foreach(t => Files.delete(dir.resolve(s"$t.parquet")))
    land("base", dir)
    Served.foreach(q => r.op(q, dir.toString, check = false))
    val warm = new LoopResult
    deliver(r, dir.toString, 0, trace = false, warm)
    (1 to WarmupRounds).foreach(round => serve(r, dir.toString, 0, round, trace = false, warm))
  }

  /** The appends of one delta; returns how many landed without refusal. */
  private def appendAll(r: Runner, dir: String, part: String, fps: Fps): (Int, Int) = {
    val spark = r.spark
    def delta(t: String) = spark.read.parquet(stage.resolve(part).resolve(s"$t.parquet").toString)
    val li = delta("lineitem")
    val docs = delta("documents")
    val dayDelta = li.join(broadcast(spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        datediff(col("l_shipdate"), lit("1995-01-01").cast("date")).cast("long").as("x"),
        col("l_extendedprice").as("y"))
    val appends: Seq[(String, () => Unit)] = Seq(
      "forecast_days" -> (() => Forecast.appendDayStats(spark, dir, dayDelta, fps.day)),
      "minhash_sigs" -> (() => Dedup.appendMinhashSigs(spark, dir, docs, fps.minhash)),
      "media_hashes" -> (() => Multimodal.appendMediaHashes(spark, dir, docs, fps.media)))
    // every append is an operation; a refused or thrown one failed
    val ok = appends.count { case (name, a) =>
      val t = System.nanoTime()
      r.attempted += 1
      try { a(); true }
      catch {
        case e if scala.util.control.NonFatal(e) =>
          r.failed += 1
          r.errors += s"append $name refused: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          false
      } finally appendTimes += ((name, (System.nanoTime() - t) / 1e9))
    }
    (ok, appends.size)
  }

  private def fingerprints(r: Runner, dir: String): Fps = {
    val s = r.spark
    Fps(Forecast.dayStatsFingerprint(s, dir), Dedup.minhashSigsFingerprint(s, dir),
      Multimodal.mediaHashesFingerprint(s, dir))
  }

  private var rows = 0L
  private var landAppendS = 0.0
  private var appendS = 0.0
  private var ok = 0
  private var tried = 0
  private var written = 0L
  private val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Land slice `k`, append it to every store, read each served query once. */
  private def deliver(r: Runner, dir: String, k: Int, trace: Boolean, res: LoopResult): Unit = {
    val before = if (trace) fileSizes(r.warehouse) else Map.empty[Path, Long]
    val s0 = System.nanoTime()
    val fps = fingerprints(r, dir)
    land(s"slice_$k", java.nio.file.Paths.get(dir))
    val a0 = System.nanoTime()
    val (o, n) = appendAll(r, dir, s"slice_$k", fps)
    val s1 = System.nanoTime()
    ok += o; tried += n
    rows += sliceRows(k)
    landAppendS += (s1 - s0) / 1e9
    appendS += (s1 - a0) / 1e9
    if (trace) written += fileSizes(r.warehouse).toSeq.filterNot(e => before.contains(e._1)).map(_._2).sum
    serve(r, dir, k, 0, trace, res)
    fresh += (System.nanoTime() - s0) / 1e9
  }

  /** One read of each served query, in an order the seed shuffles. */
  private def serve(r: Runner, dir: String, k: Int, round: Int, trace: Boolean,
      res: LoopResult): Unit =
    new scala.util.Random(seed * 1000003L + k * 1009L + round).shuffle(Served).foreach { q =>
      // each query traced on one round and untraced on the next
      r.traced = trace && (Served.indexOf(q) + k + round) % 2 == 0
      Tracer.enabled = r.traced
      r.op(q, dir, check = false).foreach(res.add(q, _, r.traced))
    }

  /** Delivers slices 1.. in turn. After each, the served queries are
    * read again (the first read after a delta missed the plan cache;
    * these hit it) in whole rounds, [[RoundsPerSecond]] rounds per second
    * of `seconds` split over the slices, and at least [[MinRounds]]: each
    * query's median latency is then a cache-hit read over the appended
    * stores, not the midpoint between a miss and a hit. The misses show in
    * `fresh_p50_s` and, with the appends, in `qps`. The rounds are a count,
    * not a time budget: under a budget, slow appends on a busy host also
    * left less time for reads, and `qps` spread about twice as far as
    * the read latencies between runs of the same code. */
  def loop(r: Runner, dir: String, seed: Long, seconds: Double, trace: Boolean): LoopResult = {
    rows = 0L; landAppendS = 0.0; appendS = 0.0; ok = 0; tried = 0; written = 0L
    fresh.clear()
    val res = new LoopResult
    val t = System.nanoTime()
    def elapsed = (System.nanoTime() - t) / 1e9
    val rounds = math.max(MinRounds, math.round(seconds * RoundsPerSecond / (Slices - 1)).toInt)
    (1 until Slices).foreach { k =>
      deliver(r, dir, k, trace, res)
      (1 to rounds).foreach(round => serve(r, dir, k, round, trace, res))
    }
    res.elapsed = elapsed
    r.traced = false
    Tracer.enabled = false
    // end state: the corpus equals the benchmark corpus again, and
    // every served answer must match its pin
    val failedBefore = r.failed
    Served.foreach(q => r.op(q, dir))
    res.correct = r.failed == failedBefore
    res.notes += s"${Slices - 1} timed slices; end-state check ${if (res.correct) "passed" else "FAILED"}"
    res.notes += appendTimes.map { case (n, t) => f"$n:$t%.2f" }.mkString("appends ", " ", "")
    res.extra("fresh_p50_s") = ((Main.median(fresh.toSeq), "s"))
    res.extra("ingest_rows_per_s") = ((rows / landAppendS, "1/s"))
    res.layerExtra("store.append_s") = appendS / (Slices - 1)
    res.layerExtra("store.append_ok_ratio") = ok.toDouble / math.max(1, tried)
    if (trace) res.layerExtra("store.write_mb") = written / 1048576.0
    res
  }

  private def fileSizes(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
      finally s.close()
    }
}

object Ingest {
  private final case class Fps(day: Long, minhash: Long, media: Long)
}
