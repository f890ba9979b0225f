package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark harness. `perfbench/run.py` builds it and starts it in
  * a fresh run directory (the JVM's working directory, so the serving
  * warehouse `spark-warehouse/` lands there); it writes one result
  * document to `--out`.
  *
  *   --mode run   --workload market_sf001|corpus_sf001|ingest_sf001
  *                --seed N --seconds S --trace 0|1 --data DIR --pins FILE
  *                --t0 EPOCH_MS --out FILE [--stage DIR, ingest only]
  *   --mode pins  --data DIR --out FILE [--verified DIR]
  */
object Main {
  /** market_sf001: queries of the market-flow operators (PricingSummary,
    * StarSchema, TopK, Impute, Seasonal, Forecast, Stats, Events).
    * One-row-group tables: the time is per-query fixed cost —
    * construction, Catalyst, code generation, job orchestration. */
  val Market: Seq[String] = Seq(
    "q_pricing_summary", "q_dim_build", "q_topk_per_group", "q_impute_group_mean",
    "q_moving_avg", "q_forecast_linear", "q_covariate_corr", "q_funnel")

  /** corpus_sf001: queries of the LLM-data operators (Dedup,
    * TextAnalysis, Similarity, Curation): text and vector kernels,
    * expansion-class shuffles and signature store reads. */
  val Corpus: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_simhash", "q_winnow_fingerprint", "q_text_quality",
    "q_vocab_top", "q_knn_brute", "q_pii_scrub", "q_dup_spans")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    a("mode") match {
      case "run" => Bench.run(a)
      case "pins" => Pins.run(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def session(traced: Boolean): SparkSession = {
    val b = GraftSession.builder("perfbench").master(s"local[${GraftSession.cpus}]")
    // static conf: every session, the lane's children included, gets one
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    val spark = b.getOrCreate()
    GraftSession.tuneLogs(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def readPins(file: String): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(new java.io.File(file))
    root.get("queries").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
    }.toMap
  }

  /** Writes the result document; Scala maps, sequences, tuples and
    * options map to JSON objects, arrays and values. */
  def writeJson(file: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(file), v)
}
