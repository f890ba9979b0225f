package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution-profile selection: the INTERACTIVE serving lane.
  *
  * A per-query and per-job floor decomposition measured the
  * per-query constant Spark charges dim-scale queries (~0.2-0.35 s wall
  * for < 100 ms of task work): with adaptive execution on, every
  * exchange becomes its own job with a 20-45 ms driver re-plan gap
  * between stages, and a 32-partition shuffle spends ~2-3 ms of
  * serialized task-launch per task on work that fits in one. DuckDB
  * answers the same queries in 7-100 ms because it never pays
  * distributed orchestration for data that fits on one node.
  *
  * AQE's runtime adaptivity buys nothing the planner didn't already
  * know when every input is a file scan whose total size is known and
  * SMALL — the right parallelism is computable up front from the file
  * stats. So: queries whose operators declare input-proportional
  * intermediates run through a child session (same SparkContext, same
  * shared catalog/cache, separate SQLConf) configured with
  *
  *   - `spark.sql.adaptive.enabled=false` — no per-stage re-plan gaps,
  *     one job instead of one per exchange;
  *   - `spark.sql.shuffle.partitions` scaled to the corpus bytes
  *     (~one partition per 16 MB, capped at the core count) — the
  *     "size your shuffle to the data" rule applied per corpus instead
  *     of per cluster.
  *
  * The lane is STATS-GUARDED, not a bench switch: above
  * [[InteractiveMaxBytes]] the default (AQE-on, core-count-partition)
  * profile serves, so a 100 TB corpus plans exactly as before — this
  * is the same decision a warehouse optimizer makes when it routes a
  * dim-table rollup to a single node instead of a 1000-executor
  * fan-out. Eligibility is opt-in per operator ([[wrap]]): only
  * operators whose shuffled intermediates stay proportional to their
  * INPUT belong here — compute-expanding operators (shingle joins,
  * signature banding, ANN probes) keep the default lane whatever their
  * input bytes, because their reduce-side parallelism must track the
  * EXPANDED data, which file stats cannot see.
  */
object Lane {
  /** Above this corpus size the interactive lane never engages.
    * 2 GiB ~ the point where a 32-core single-wave shuffle stops being
    * clearly latency-bound (64 MiB/partition at 32 cores). */
  val InteractiveMaxBytes: Long = 2L * 1024 * 1024 * 1024

  /** Tighter guard for EXPANSION-class operators (shingle/signature
    * joins, ANN probes, media decode): their shuffled intermediates run
    * 10-50x their input, which file stats cannot see — so they leave
    * the lane an order of magnitude earlier, before a mid-guard corpus
    * (say 1 GiB at 50x = 50 GiB) could meet an under-sized shuffle. */
  val ExpandingMaxBytes: Long = 512L * 1024 * 1024

  /** One shuffle partition per this many corpus bytes in the lane. */
  private val BytesPerPartition: Long = 16L * 1024 * 1024

  /** Total on-disk bytes of the corpus dir's parquet payload — a
    * driver-side file listing, the same stats the scan planner reads.
    * Computed FRESH on every probe (r16 review: a memo here would pin
    * the lane decision and partition sizing to the corpus's size at
    * first contact — a corpus grown past the guard would keep riding
    * the interactive profile). The walk is a few dozen stat calls; the
    * probe only runs on prepared-plan-cache misses. */
  private[graft] def corpusBytes(dir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) { val c = f.listFiles(); if (c == null) 0L else c.map(size).sum }
      else f.length()
    val root = new java.io.File(dir)
    val files = Option(root.listFiles()).getOrElse(Array.empty)
    files.filter(f => f.getName.endsWith(".parquet")).map(size).sum
  }

  /** Child sessions keyed weakly on the parent (stopped sessions stay
    * collectable — the [[Tables]] discipline) and on the quantized
    * partition count, so all corpora that round to the same parallelism
    * share one child. */
  private val children = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[Int, SparkSession]]())

  private def interactivePartitions(bytes: Long): Int = {
    val cores = try GraftSession.cpus.toInt catch { case _: NumberFormatException => 4 }
    math.max(1, math.min(cores, (bytes / BytesPerPartition).toInt + 1))
  }

  /** The session a dim-scale query over `dir` should build against:
    * the interactive child when the corpus is small, the given session
    * untouched otherwise. */
  private[graft] def sessionFor(spark: SparkSession, dir: String,
      maxBytes: Long = InteractiveMaxBytes): SparkSession = {
    val bytes = corpusBytes(dir)
    if (bytes <= 0L || bytes > maxBytes) spark
    else {
      val perParent = children.synchronized {
        var m = children.get(spark)
        if (m == null) {
          m = scala.collection.concurrent.TrieMap.empty[Int, SparkSession]
          children.put(spark, m)
        }
        m
      }
      val parts = interactivePartitions(bytes)
      perParent.getOrElseUpdate(parts, {
        val child = spark.newSession()
        child.conf.set("spark.sql.adaptive.enabled", "false")
        child.conf.set("spark.sql.shuffle.partitions", parts.toString)
        child
      })
    }
  }

  /** Opt a query constructor into the interactive lane. The operator
    * asserts its shuffled intermediates are input-proportional; the
    * byte guard makes the opt-in scale-safe. */
  def wrap(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => f(sessionFor(spark, dir), dir)

  /** The expansion-class variant: same lane, [[ExpandingMaxBytes]]
    * guard. */
  def wrapExpanding(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => f(sessionFor(spark, dir, ExpandingMaxBytes), dir)
}
