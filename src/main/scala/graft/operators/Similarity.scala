package graft.operators

import graft.Tables
import graft.functions.{GraftFunctions, Hyperplanes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search: brute-force cosine top-k (the correctness
  * baseline) and random-hyperplane LSH / IVF variants (the scale paths),
  * plus embedding-cosine near-dup pairing.
  *
  * Scale design: the query side is broadcast and the corpus is NEVER
  * shuffled at full width — scoring is a map-side pass, and ranking uses a
  * bounded-heap typed Aggregator ([[TopKScoredAgg]]) so each map task
  * keeps only k rows per query and the shuffle moves O(queries x k x
  * tasks) rows, never the scored corpus (a `row_number()` window would
  * funnel every scored row of a query into one partition — the
  * scale-killer this operator exists to avoid). The LSH variant buckets
  * the corpus by hyperplane-sign bands so each probe touches only
  * matching buckets; vector math and bucketing use fused codegen'd native
  * expressions ([[graft.functions.CosineSimilarity]],
  * [[graft.functions.HyperplaneBuckets]]).
  */
object Similarity {

  /** Cosine similarity via composed higher-order functions — the
    * reference formulation the native expression is benchmarked against
    * (kept for specs; production paths use
    * [[graft.functions.CosineSimilarity]]). */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Fused single-pass codegen cosine (see CosineSimilarity.scala). */
  def cosine(a: Column, b: Column): Column = GraftFunctions.graftCosine(a, b)

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
  }

  // ------------------------------------------------ bounded-heap ranking

  case class Scored(query_id: Long, neighbor_id: Long, cosine: Double)

  /** Typed bounded per-query top-k — kept ONLY as the independent
    * reference implementation the native kernel is spec-checked against
    * (production ranking goes through [[graft.functions.TopKCollect]];
    * this List-buffer form pays an ExpressionEncoder round-trip per
    * partial-merge). Each map task keeps at most k scored rows per query
    * (map-side combine via `reduce`), partial heaps merge at reduce side.
    * Deterministic ordering: cosine desc, ties broken by neighbor_id
    * asc. */
  class TopKScoredAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Scored, List[Scored], List[Scored]] {
    private val ord: Ordering[Scored] =
      Ordering.by((s: Scored) => (-s.cosine, s.neighbor_id))

    override def zero: List[Scored] = Nil

    // the buffer is kept SORTED; most rows fail the cutoff check in O(k)
    // compares with zero allocation (a per-row full sort would pay
    // O(k log k) + boxing on every scored row of the corpus)
    override def reduce(buf: List[Scored], row: Scored): List[Scored] =
      if (buf.lengthCompare(k) >= 0 && ord.compare(row, buf.last) >= 0) buf
      else {
        val (better, rest) = buf.span(s => ord.compare(s, row) <= 0)
        (better ::: (row :: rest)).take(k)
      }

    override def merge(a: List[Scored], b: List[Scored]): List[Scored] =
      (a ++ b).sorted(ord).take(k)

    override def finish(r: List[Scored]): List[Scored] = r.sorted(ord)

    override def bufferEncoder: org.apache.spark.sql.Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()

    override def outputEncoder: org.apache.spark.sql.Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
  }

  /** Rank a (query_id, vec_id, cosine) scored set down to per-query top-k
    * with rank numbers — no Window over the scored set. NULL cosines
    * (zero-norm vectors, which have no defined similarity) are excluded
    * before ranking. */
  private[graft] def topkRanked(scored: DataFrame, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(scored.sparkSession)
    scored
      .filter(col("cosine").isNotNull)
      .groupBy(col("query_id").cast(LongType).as("query_id"))
      .agg(call_function(
        GraftFunctions.TopKName,
        col("cosine"),
        col("vec_id").cast(LongType),
        lit(0L),
        lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id_a").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** The typed-Aggregator ranking path — spec-only reference the native
    * kernel form of [[topkRanked]] is property-checked against. */
  private[graft] def topkRankedRef(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .filter(col("cosine").isNotNull)
      .select(
        col("query_id").cast(LongType).as("query_id"),
        col("vec_id").cast(LongType).as("neighbor_id"),
        col("cosine"))
      .as[Scored]
      .groupByKey(_.query_id)
      .agg(new TopKScoredAgg(k).toColumn.name("top"))
      .flatMap { case (q, top) =>
        top.zipWithIndex.map { case (s, i) => (q, s.neighbor_id, s.cosine, i + 1) }
      }
      .toDF("query_id", "neighbor_id", "cosine", "rk")
  }

  /** The ANN ladder's query subset bound and depth, shared by EVERY
    * engine entry point AND interpolated into every generated oracle SQL
    * (r19 ADVICE: the checker oracles hardcoded `vec_id < 8` / `k = 10`
    * independently of the engine defaults, so a future k or query-set
    * change would silently desynchronize oracle from engine — with one
    * shared constant pair they cannot drift). */
  val KnnQueryBound = 8
  val KnnK = 10

  /** q_knn_brute — exact cosine top-k for a query subset
    * (vec_id < [[KnnQueryBound]]) against the whole corpus. */
  def knnBrute(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val corpus = emb(spark, dir)
    val queries = broadcast(
      corpus.filter(col("vec_id") < KnnQueryBound)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec")))
    val scored = corpus
      .join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cosine"))
    topkRanked(scored, k)
  }

  /** DuckDB oracle for [[knnBrute]] — upgrades the flagship ANN query
    * from rows-only to exact hash parity. Safe because both engines
    * accumulate the dot product and norms LEFT-TO-RIGHT in doubles over
    * double-cast float32 values (graft's fused kernel by construction;
    * DuckDB's `list_cosine_similarity` over DOUBLE[] empirically
    * bit-identical across scales), BOTH sides clamp to the mathematical
    * [-1, 1] range (exact-copy vectors can evaluate a hair above 1.0
    * from sqrt rounding — surfaced by the replicated sf1 corpus), and
    * ties rank deterministically by neighbor_id. */
  val knnBruteOracle: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
      |  FROM embeddings WHERE vec_id < $KnnQueryBound
      |), scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    GREATEST(LEAST(
      |      list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])),
      |      1.0), -1.0) AS cosine
      |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
      |)
      |SELECT query_id, neighbor_id, cosine, rk FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
      |  FROM scored
      |) WHERE rk <= $KnnK""".stripMargin

  // ------------------------------------------------- recall vs ground truth

  /** k is part of the generation key: GT built at one depth must not be
    * silently reused at another (k=20 over a k=10 file would cap hits at
    * 10 against a denominator of 20). */
  private[graft] def gtServePath(dir: String, k: Int): String =
    servePath(s"gt_serve_k${k}_", dir)

  /** Fingerprint-keyed brute-force ground truth for the standard query
    * subset — a [[ServingStore]] generation: built once per corpus
    * generation, invalidated by any file change.
    * At corpus scale this is the standard ANN-benchmark discipline
    * (ground truth is computed once and versioned with the corpus, e.g.
    * the published BIGANN GT files), NOT a per-query brute scan. */
  private[graft] def ensureGroundTruth(spark: SparkSession, dir: String,
      k: Int = KnnK): DataFrame =
    ServingStore.served(spark, "ground-truth", gtServePath(dir, k), corpusFingerprint(spark, dir)) {
      gen =>
        knnBrute(spark, dir, k).write.mode("overwrite").parquet(gen)
    } { gen =>
      // GT is (queries × k) rows — driver-sized by construction, so serve
      // it RESIDENT as a LocalRelation (the serve memo keeps it): the
      // per-serve broadcast then costs no scan job at all (same
      // discipline as the model stores)
      val rows = spark.read.parquet(gen).collect()
      if (rows.isEmpty) spark.read.parquet(gen)
      else {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toSeq.asJava, rows.head.schema)
      }
    }

  /** Append a per-query `recall_at_k` column to an approximate top-k
    * result: |approx ∩ brute-top-k| / k against the persisted ground
    * truth — a correctness number in EVERY served row, not only in
    * specs. Cost at query time is a broadcast join against the
    * (queries × k)-row ground truth; the brute scan is paid once per
    * corpus generation by [[ensureGroundTruth]]. Queries the approx
    * result drops entirely (no candidates) drop from recall too —
    * cardinality is preserved exactly (left-join + group on the approx
    * side only). */
  private[graft] def withRecall(approx: DataFrame, spark: SparkSession,
      dir: String, k: Int = KnnK): DataFrame = {
    // Recall rides the SINGLE search pass: a broadcast left-join marks
    // each emitted row as a ground-truth hit, and a window partitioned
    // by query_id turns the marks into the per-query recall. The earlier
    // aggregate-then-rejoin formulation referenced the approx frame
    // twice, which re-planned and RE-EXECUTED the whole approximate
    // search per serve call — at scale that doubles every ANN query.
    // The window shuffles only the (queries × k)-row result frame, and
    // the join cannot fan out (ground truth is unique per
    // (query_id, neighbor_id)), so cardinality is preserved exactly;
    // queries the approx search drops entirely drop from recall too.
    val gt = ensureGroundTruth(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    approx
      .join(broadcast(gt), Seq("query_id", "neighbor_id"), "left")
      .withColumn("recall_at_k",
        (sum(coalesce(col("hit"), lit(0L)))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("query_id")))
          .cast(DoubleType) / lit(k.toDouble)))
      .drop("hit")
  }

  // ------------------------------------------------------- LSH hyperplanes

  val LshBands: Int = Hyperplanes.Bands
  val PlanesPerBand: Int = Hyperplanes.PlanesPerBand
  val Dim: Int = Hyperplanes.Dim

  /** (band, bucket) index rows for every vector — one native-expression
    * evaluation per row ([[graft.functions.HyperplaneBuckets]]), exploded
    * positionally so pos == band. */
  private def banded(df: DataFrame, vecCol: String, idAs: String): DataFrame =
    df.select(
      col("vec_id").as(idAs),
      posexplode(call_function(GraftFunctions.HplaneIndexName, col(vecCol))))
      .toDF(idAs, "band", "bucket")

  /** q_knn_lsh — approximate top-k: candidates are corpus vectors sharing
    * any LSH band bucket with the query (multi-probe on the query side:
    * primary bucket plus the weakest-margin bit flip); ranked by true
    * cosine via the bounded-heap aggregator. */
  def knnLsh(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val corpus = emb(spark, dir)
    val corpusBands = banded(corpus, "vec", "vec_id")
    // the query subset is TINY (8 rows) — broadcast exactly this subset,
    // never the full corpus renamed as a query side
    val queries = corpus
      .filter(col("vec_id") < KnnQueryBound)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val queryBands = queries
      .select(
        col("query_id"),
        posexplode(call_function(GraftFunctions.HplaneProbeName, col("qvec"))))
      .toDF("query_id", "p", "bucket")
      // probe output interleaves (primary, alternate) per band: band = p >> 1
      .select(col("query_id"), shiftright(col("p"), 1).as("band"), col("bucket"))
    // candidate pairs deduped as BARE IDS (8-byte keys through the
    // shuffle); vectors re-attached afterwards
    val candidates = corpusBands
      .join(broadcast(queryBands), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val scored = candidates
      .join(broadcast(queries), Seq("query_id"))
      .join(corpus, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cosine"))
    withRecall(topkRanked(scored, k), spark, dir, k)
  }

  // ---------------------------------------- LSH-family DuckDB oracles

  /** The 32 hyperplanes as a DuckDB VALUES literal — (p, w) rows in
    * plane order (band = p / PlanesPerBand, r = p % PlanesPerBand).
    * The planes are FIXED CODE CONSTANTS (seeded at class-load,
    * [[graft.functions.Hyperplanes]]), not trained state, so embedding
    * them keeps the oracle independent of anything the engine computed:
    * this is what upgrades the LSH family from pinned to exact-oracled
    * where the k-means families (IVF/PQ/OPQ — data-trained model state)
    * cannot be. Double.toString is shortest-round-trip and DuckDB's
    * strtod is correctly rounded, so the embedded constants parse to
    * the exact doubles the kernel multiplies; sign and weakest-margin
    * decisions then agree bit-for-bit (the [[knnBruteOracle]] empirical
    * precedent: DuckDB's list kernels accumulate doubles left-to-right
    * like the fused graft kernels). */
  private lazy val planesSqlValues: String =
    (0 until LshBands * PlanesPerBand).map { p =>
      val ws = (0 until Dim).map(i =>
        graft.functions.Hyperplanes.flat(p * Dim + i).toString).mkString(",")
      s"($p, [$ws]::DOUBLE[])"
    }.mkString(",\n")

  /** Shared oracle prelude: per-vector per-band sign-packed buckets
    * (bit r set iff the dot with plane r is strictly positive — the
    * kernel's `d > 0`) plus the band's min |dot| for multi-probe. */
  private def lshBandsSql: String =
    s"""WITH planes(p, w) AS (VALUES
       |$planesSqlValues
       |), emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), dots AS (
       |  SELECT e.vec_id, pl.p // $PlanesPerBand AS band, pl.p % $PlanesPerBand AS r,
       |    list_dot_product(e.v, pl.w) AS d
       |  FROM emb e CROSS JOIN planes pl
       |), bands AS (
       |  SELECT vec_id, band,
       |    CAST(SUM(CASE WHEN d > 0 THEN (1 << r) ELSE 0 END) AS INT) AS bucket,
       |    MIN(ABS(d)) AS min_abs
       |  FROM dots GROUP BY vec_id, band
       |)""".stripMargin

  /** DuckDB oracle for [[knnLsh]]: replays the hyperplane bucketing,
    * the query-side multi-probe (weakest-|margin| bit flip; the kernel
    * keeps the FIRST min under strict <, which is MIN(r) over the
    * minima), candidate generation, exact clamped cosine, the
    * (cosine DESC, neighbor_id) ranking, and recall@k against the
    * brute top-k — bit parity end to end. */
  val knnLshOracle: String =
    s"""${lshBandsSql}, weakest AS (
       |  SELECT d.vec_id, d.band, MIN(d.r) AS wr
       |  FROM dots d JOIN bands b ON d.vec_id = b.vec_id AND d.band = b.band
       |  WHERE ABS(d.d) = b.min_abs
       |  GROUP BY d.vec_id, d.band
       |), qprobe AS (
       |  SELECT b.vec_id AS query_id, b.band, b.bucket AS pb,
       |    xor(b.bucket, (1 << w.wr)) AS ab
       |  FROM bands b JOIN weakest w ON b.vec_id = w.vec_id AND b.band = w.band
       |  WHERE b.vec_id < $KnnQueryBound
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id
       |  FROM bands c JOIN qprobe q
       |    ON c.band = q.band AND (c.bucket = q.pb OR c.bucket = q.ab)
       |  WHERE c.vec_id <> q.query_id
       |), scored AS (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |    GREATEST(LEAST(list_cosine_similarity(qe.v, ne.v), 1.0), -1.0) AS cosine
       |  FROM cand
       |  JOIN emb qe ON qe.vec_id = cand.query_id
       |  JOIN emb ne ON ne.vec_id = cand.vec_id
       |), topk AS (
       |  SELECT query_id, neighbor_id, cosine, rk FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
       |    FROM scored
       |  ) WHERE rk <= $KnnK
       |), gt AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        GREATEST(LEAST(list_cosine_similarity(q.v, e.v), 1.0), -1.0) DESC,
       |        e.vec_id) AS brk
       |    FROM emb e JOIN emb q ON q.vec_id < $KnnQueryBound AND e.vec_id <> q.vec_id
       |  ) WHERE brk <= $KnnK
       |)
       |SELECT t.query_id, t.neighbor_id, t.cosine, t.rk,
       |  CAST(SUM(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY t.query_id) AS DOUBLE) / $KnnK.0 AS recall_at_k
       |FROM topk t LEFT JOIN gt g
       |  ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id""".stripMargin

  /** DuckDB oracle for [[embeddingDedup]]'s LSH branch: primary-bucket
    * blocking with the [[Dedup.BandBucketCap]] semantics reproduced as
    * SETS (survivor pairs = sharing >= 1 non-hot band; hot buckets
    * contribute their min-id representative star restricted to pairs
    * with NO surviving shared band — the exactly-once emission is a
    * streaming optimization, the SET is what the gate compares), then
    * the exact clamped-cosine threshold.
    *
    * BRANCH SCOPE: valid on corpora at or under
    * [[LshSaturationBound]] vectors — past it the registered query
    * switches to the k-means cells blocking, whose trained centroids a
    * standalone SQL cannot reproduce; the round-close gate skips this
    * oracle on tiers past the bound (documented there), while the
    * driver's sf0.01 gate and the sf0.1 corpus sit inside it. */
  /** Candidate + thresholded-pair CTE chain shared by the two embedding
    * oracles (`recursive` prepends the keyword the reach CTE needs —
    * DuckDB requires it on the WITH that opens the whole chain). */
  private def embeddingDedupCandSql(recursive: Boolean): String =
    s"""${if (recursive) lshBandsSql.replaceFirst("WITH ", "WITH RECURSIVE ")
          else lshBandsSql}, pop AS (
       |  SELECT band, bucket, COUNT(*) AS nb FROM bands GROUP BY band, bucket
       |), hot AS (
       |  SELECT band, bucket FROM pop WHERE nb > ${Dedup.BandBucketCap}
       |), spairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |  ANTI JOIN hot h ON a.band = h.band AND a.bucket = h.bucket
       |), reps AS (
       |  SELECT b.band, b.bucket, MIN(b.vec_id) AS rep
       |  FROM bands b JOIN hot h ON b.band = h.band AND b.bucket = h.bucket
       |  GROUP BY b.band, b.bucket
       |), starr AS (
       |  SELECT DISTINCT r.rep AS vec_a, m.vec_id AS vec_b
       |  FROM bands m
       |  JOIN hot h ON m.band = h.band AND m.bucket = h.bucket
       |  JOIN reps r ON m.band = r.band AND m.bucket = r.bucket
       |  WHERE m.vec_id <> r.rep
       |    AND NOT EXISTS (SELECT 1 FROM spairs s
       |      WHERE s.vec_a = r.rep AND s.vec_b = m.vec_id)
       |), cand AS (
       |  SELECT vec_a, vec_b FROM spairs UNION SELECT vec_a, vec_b FROM starr
       |), pairs AS (
       |  SELECT c.vec_a, c.vec_b, cosine FROM (
       |    SELECT c.vec_a, c.vec_b,
       |      GREATEST(LEAST(list_cosine_similarity(ea.v, eb.v), 1.0), -1.0) AS cosine
       |    FROM cand c
       |    JOIN emb ea ON ea.vec_id = c.vec_a
       |    JOIN emb eb ON eb.vec_id = c.vec_b
       |  ) c WHERE cosine >= 0.45
       |)""".stripMargin

  val embeddingDedupOracle: String =
    s"""${embeddingDedupCandSql(recursive = false)}
       |SELECT vec_a, vec_b, cosine FROM pairs""".stripMargin

  /** DuckDB oracle for [[embeddingDedupResolve]]: connected components
    * over the [[embeddingDedupOracle]] pair set by recursive reach
    * (the [[Dedup.dedupResolveOracle]] pattern) — every endpoint gets
    * its component's min vec_id. Same branch scope as the pair oracle. */
  val embeddingDedupResolveOracle: String =
    s"""${embeddingDedupCandSql(recursive = true)}, member AS (
       |  SELECT DISTINCT v FROM (
       |    SELECT vec_a AS v FROM pairs UNION ALL SELECT vec_b AS v FROM pairs)
       |), redges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT v, v FROM member
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN redges e ON r.dst = e.src
       |)
       |SELECT src AS vec_id, MIN(dst) AS canonical_id FROM reach GROUP BY src""".stripMargin

  // ------------------------------------------------ ANN checker oracles

  /** Placeholder [[graft.Verify]] substitutes with the absolute result
    * directory when dumping oracle_sql.json — a checker oracle reads the
    * engine's OWN emitted rows back. Verify is the only writer of the
    * dump, so the token never reaches DuckDB unresolved. */
  val GraftOutToken = "__GRAFT_OUT__"

  /** Marker line [[graft.Verify]] keeps at the head of every checker
    * oracle; tools/measure_baseline.py excludes marked oracles from the
    * interleaved pair's DuckDB column (a checker re-reads graft's output
    * and re-runs a brute scan — timing it as a "baseline" would gift
    * graft fake seconds; correctness-only, like the pack-family replay
    * oracles). */
  val CheckerMarker = "-- graft:checker (validity oracle over the engine's emitted rows)"

  /** CHECKER oracle for the trained-state ANN serves (q_knn_ivf /
    * q_knn_pq / q_knn_opq / q_knn_ivfpq). The k-means / codebook model
    * state cannot be replayed by standalone SQL — an oracle embedding
    * engine-trained constants would verify the engine against its own
    * output — but every CLAIM an emitted row makes can be re-derived
    * from the corpus alone: DuckDB recomputes each emitted
    * (query, neighbor) pair's exact clamped cosine from the embeddings
    * table (bit parity per [[knnBruteOracle]]'s accumulation-order
    * note), re-ranks the emitted set by (cosine DESC, neighbor_id) —
    * the top-k prefix ordering, so ranks within the emitted set equal
    * ranks among all candidates — and recomputes recall_at_k as the
    * emitted neighbor set's overlap with the brute-force top-k truth
    * ([[ensureGroundTruth]] semantics, ties by neighbor_id). The
    * driver's rows/schema/hash compare then passes iff the engine's
    * cosines are bit-equal to recomputation, its ranking is consistent
    * with its own scores, and its recall figure is honest. WHICH
    * neighbors the index shortlists stays the model's choice — that is
    * the approximation recall measures — but everything the row asserts
    * about them is hash-gated. Valid at every SF and on both branches
    * (nothing here depends on [[LshSaturationBound]]). The query-subset
    * bound and k interpolate from [[KnnQueryBound]]/[[KnnK]] — the same
    * constants every engine entry point defaults to — so the checker
    * cannot silently desynchronize from the engine (r19 ADVICE). */
  def annCheckerOracle(name: String): String =
    s"""$CheckerMarker
       |WITH o AS (
       |  SELECT query_id, neighbor_id
       |  FROM read_parquet('$GraftOutToken/$name/*.parquet')
       |), emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), re AS (
       |  SELECT o.query_id, o.neighbor_id,
       |    GREATEST(LEAST(list_cosine_similarity(qe.v, ne.v), 1.0), -1.0) AS cosine
       |  FROM o
       |  JOIN emb qe ON qe.vec_id = o.query_id
       |  JOIN emb ne ON ne.vec_id = o.neighbor_id
       |), gt AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        GREATEST(LEAST(list_cosine_similarity(q.v, e.v), 1.0), -1.0) DESC,
       |        e.vec_id) AS brk
       |    FROM emb e JOIN emb q ON q.vec_id < $KnnQueryBound AND e.vec_id <> q.vec_id
       |  ) WHERE brk <= $KnnK
       |)
       |SELECT r.query_id, r.neighbor_id, r.cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY r.query_id
       |    ORDER BY r.cosine DESC, r.neighbor_id) AS INT) AS rk,
       |  CAST(SUM(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY r.query_id) AS DOUBLE) / $KnnK.0 AS recall_at_k
       |FROM re r LEFT JOIN gt g
       |  ON r.query_id = g.query_id AND r.neighbor_id = g.neighbor_id""".stripMargin

  /** CHECKER oracle for [[embeddingDedupCells]] (same contract as
    * [[annCheckerOracle]]): the dedup quantizer's trained centroids pick
    * WHICH pairs surface, but each emitted pair's cosine is an exact
    * claim about two corpus vectors — recomputed here bit-equal from the
    * embeddings table. */
  val cellsCheckerOracle: String =
    s"""$CheckerMarker
       |WITH o AS (
       |  SELECT vec_a, vec_b
       |  FROM read_parquet('$GraftOutToken/q_dedup_embedding_cells/*.parquet')
       |), emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |)
       |SELECT o.vec_a, o.vec_b,
       |  GREATEST(LEAST(list_cosine_similarity(ea.v, eb.v), 1.0), -1.0) AS cosine
       |FROM o
       |JOIN emb ea ON ea.vec_id = o.vec_a
       |JOIN emb eb ON eb.vec_id = o.vec_b""".stripMargin

  // ------------------------------------------------------------------ IVF

  val IvfNList = 16
  val IvfNProbe = 4
  val IvfIters = 3

  /** Squared L2 distance between a vector column and a literal centroid
    * (fused codegen kernel — the IVF assign pass evaluates this NList
    * times per row). */
  private def l2sq(v: Column, centroid: Array[Double]): Column =
    GraftFunctions.graftL2sq(v, array(centroid.map(lit(_)): _*))

  /** Trained centroids as a nested array literal for the compiled
    * argmin assignment kernel ([[graft.functions.ArgminL2]]). */
  private def centsLit(centroids: Array[Array[Double]]): Column =
    array(centroids.map(c => array(c.map(lit(_)): _*)): _*)

  /** Train an IVF coarse quantizer with Lloyd iterations, FRAME-NATIVE:
    * the centroids live as a (cid, cvec) DataFrame throughout training —
    * each round collapses them into ONE row (sorted array of cvecs) that
    * cross-joins onto the corpus by broadcast, so assignment is a
    * row-local argmin (zero corpus shuffle, exactly like the literal
    * form) and the component-mean update is one map-side-combined
    * aggregate of per-cell partials. Nothing reaches the driver until the
    * FINAL model collect — at production NList x dim (e.g. 65k x 768 ≈
    * 50M weights) the per-round state stays distributed, where a
    * per-iteration collect would bottleneck the driver.
    *
    * Determinism is unchanged from the literal form: init is the first
    * NList vectors by id, updates are decimal-exact component means
    * (avg() over raw floats would be partition-order-dependent), ties in
    * assignment break to the lowest centroid index, and empty cells keep
    * their previous centroid. Each round's tiny centroid frame is
    * eagerly checkpointed (one distributed job per Lloyd round — the
    * iteration itself, not driver traffic) so plans stay bounded. */
  /** FAISS-style training-sample bound (max_points_per_centroid): Lloyd
    * cost is iters x n_train x k x dim, so an unsampled fit re-derives
    * from a billion vectors what a 256-per-cell sample already
    * determines — quantizer quality is set by points-per-centroid, not
    * corpus size, once cells are populated. The sample is a
    * deterministic hash-range filter on vec_id (content-keyed,
    * partition-invariant, no sort), and it never engages below
    * 256 x nList vectors — every shipped SF and pin corpus trains
    * unsampled, so this is purely the capital-cost bound for the
    * clamped-k regime (a measured 103 s assignment-store build at
    * 200k x 4096 cells is the row it exists for). */
  val MaxFitPointsPerCentroid = 256

  def ivfFit(corpus: DataFrame, nList: Int = IvfNList, iters: Int = IvfIters,
      maxFitPointsPerCentroid: Int = MaxFitPointsPerCentroid,
      knownCount: Option[Long] = None): Array[Array[Double]] = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val cap = nList.toLong * maxFitPointsPerCentroid
    // callers that already counted the corpus (serveSemCells sizes its
    // cell count from it) pass the count instead of paying a second job
    val n = knownCount.getOrElse(corpus.count())
    val train =
      if (n <= cap) corpus
      else corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(1L << 20)) <
          lit(math.ceil(cap.toDouble / n * (1L << 20)).toLong))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
    var cents: DataFrame = train
      .orderBy(col("vec_id")).limit(nList)
      .select((row_number().over(w) - 1).as("cid"),
        transform(col("vec"), x => x.cast(DoubleType)).as("cvec"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val packed = cents
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("cid"), col("cvec")))),
          s => s.getField("cvec")).as("cents"))
      val assigned = train
        .crossJoin(broadcast(packed)) // ONE row — the model state rides the plan
        .withColumn("cid", GraftFunctions.graftArgminL2(col("vec"), col("cents")))
      val updates = assigned
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(28, 9))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("new_cvec"))
      // lazy: each round's centroid frame materializes once inside the
      // final collect's job graph (two consumers — next round's packed
      // broadcast and the empty-cell fallback join) instead of paying an
      // eager job barrier per Lloyd round
      cents = cents
        .join(updates, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("new_cvec"), col("cvec")).as("cvec"))
        .localCheckpoint(eager = false)
    }
    // the ONLY driver collect: the trained model (NList x dim), ordered
    cents.orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toArray)
  }

  /** q_knn_ivf — IVF search: corpus sharded into NList inverted lists by
    * the trained quantizer; each query probes its NProbe nearest lists and
    * ranks only those candidates by true cosine. At corpus scale the
    * inverted lists are the partitioning (write-time `partitionBy(cid)`),
    * so a probe touches NProbe/NList of the data. */
  def knnIvf(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val corpus = emb(spark, dir)
    knnIvfOf(corpus, ivfFit(corpus), k)
  }

  /** q_knn_ivf SERVING path: search a materialized index, (re)building it
    * only when absent or stale — the deployment shape, where quantizer
    * training is amortized over every search instead of paid per call
    * (training from scratch inside the query was measuring index BUILD,
    * not search). The index is a [[ServingStore]] generation keyed by a
    * FINGERPRINT of the corpus files ([[corpusFingerprint]]) folded with
    * [[IvfStoreVersion]]: any corpus swap under the same dir changes it
    * and triggers a rebuild — including an equal-row-count content swap,
    * which a count-based key would silently serve stale. Results are
    * bit-identical to [[knnIvf]] either way (same deterministic Lloyd
    * fit, and the persisted f64 model round-trips exactly through
    * parquet). The model and the lists come from ONE generation, and the
    * serve memo keeps the decoded model resident. */
  def knnIvfServe(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val ix = ivfIndex(spark, dir)
    withRecall(knnIvfIndexed(spark, dir, ix.gen.path("lists"), ix.centroids, k), spark, dir, k)
  }

  /** Bumped on any change to what a model store's files mean (the
    * [[SemAssignStoreVersion]] convention): folded into the store's
    * fingerprint, so a generation written under older semantics
    * rebuilds. The PQ families' versions ([[PqStoreVersion]] and its
    * siblings) also fold in PqM/PqK. */
  private val IvfStoreVersion = 1

  private def storeFp(corpusFp: Long, version: Int): Long = corpusFp * 31 + version

  /** The `model` artifact every model store holds (rows of
    * [[ServingStore.writeModel]]); the IVF and IVF-PQ stores add their
    * `cid`-partitioned inverted `lists`, the flat PQ stores their
    * `codes`. */
  private val Model = ServingStore.Artifact("model")
  private val ListsStore = Seq(Model, ServingStore.Artifact("lists"))
  private val CodesStore = Seq(Model, ServingStore.Artifact("codes"))

  /** Serve-or-build a model store over `dir`'s embeddings: ONE
    * [[ServingStore.ensureGeneration]] call keyed by the corpus
    * fingerprint folded with the store's `version`. `build` writes every
    * artifact into the new generation; `decode` turns the committed
    * generation and its model parts into what the serve memo keeps
    * resident. */
  private def modelStore[T <: AnyRef](spark: SparkSession, what: String, path: String,
      dir: String, version: Int, artifacts: Seq[ServingStore.Artifact])(
      build: ServingStore.Generation => Unit)(
      decode: (ServingStore.Generation, Map[String, Array[Array[Double]]]) => T): T =
    ServingStore.ensureGeneration(spark, what, path,
        storeFp(corpusFingerprint(spark, dir), version), artifacts)(build)(
      gen => decode(gen, modelOf(spark, gen)))

  private def modelOf(spark: SparkSession, gen: ServingStore.Generation)
      : Map[String, Array[Array[Double]]] =
    ServingStore.readModel(spark, gen.path("model"))

  /** Append a delta into a `model` + `lists` store: the committed
    * generation's model and lists carry as hard links, and `encode`
    * (given the committed generation) turns the delta into list rows
    * that land as new files in their `cid=` cells. The
    * [[ServingStore.landed]] proofs run first: `expectedFp`, the
    * caller's pre-delta corpus fingerprint, must match the committed
    * generation (a stale index takes the rebuild path, never absorbs a
    * delta and gets re-stamped fresh), and the post-delta fingerprint
    * is stamped with the commit. */
  private def appendLists(spark: SparkSession, what: String, path: String, dir: String,
      version: Int, expectedFp: Option[Long])(
      encode: ServingStore.Generation => DataFrame): Unit = {
    GraftFunctions.ensureRegistered(spark)
    ServingStore.deriveGeneration(spark, what, path, ListsStore, carry = Seq("model", "lists"))(
      ServingStore.landed(what, path, expectedFp.map(storeFp(_, version)),
        () => storeFp(corpusFingerprint(spark, dir), version))) { (prev, next) =>
      encode(prev).write.mode("append").partitionBy("cid").parquet(next.path("lists"))
    }
    ()
  }

  /** Compact a `model` + `lists` store's inverted lists back to one file
    * per cell: every append lands a fresh file in each touched `cid=`
    * dir, so a season of ingests makes every probe open O(appends)
    * small files per probed cell — the LSM read amplification
    * [[Dedup.compactPostings]] undoes for the posting index. A hash
    * repartition on `cid` sends every cell's rows to ONE task, so the
    * partitioned write leaves exactly one file per cell. The model
    * carries as hard links; rows, model and fingerprint are unchanged,
    * and readers of the previous generation keep their files. */
  private def compactLists(spark: SparkSession, what: String, path: String): Unit = {
    ServingStore.deriveGeneration(spark, what, path, ListsStore, carry = Seq("model"))(
      identity) { (prev, next) =>
      spark.read.parquet(prev.path("lists"))
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(next.path("lists"))
    }
    ()
  }

  /** Driver-side CONTENT fingerprint of a corpus table's parquet (file
    * names, lengths, and a CRC of each file's head, six evenly-spaced
    * interior windows, and tail bytes — the tail is the parquet footer,
    * i.e. row-group offsets and column statistics):
    * the serve paths' staleness key, shared by every model-serving surface
    * (IVF, PQ, the posting index, the quality classifier).
    *
    * Content-keyed on purpose, in both directions: a same-length content
    * swap changes the footer stats and so the fingerprint (a length-only
    * key would silently serve a stale index), while a byte-identical
    * rewrite — e.g. a deterministic generator re-emitting the same corpus
    * with fresh mtimes — keeps the fingerprint, so standing index
    * generations keep serving instead of retraining on every touch (an
    * mtime key forced exactly that: every regeneration invalidated every
    * index even though no byte changed). ~36 KB of IO per file,
    * driver-side; never a data scan. Residual risk, disclosed: a
    * same-length edit that changes no sampled window and leaves the
    * footer statistics bitwise intact is not detected — full-content
    * hashing per serve probe would defeat the probe's point at index
    * scale; a production deployment would carry a writer-stamped
    * content version instead. */
  private[graft] def corpusFingerprint(spark: SparkSession, dir: String,
      table: String = "embeddings.parquet"): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses =
      (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq else Seq(fs.getFileStatus(p)))
        .filter(_.isFile)
        .sortBy(_.getPath.getName)
    statuses.foldLeft(1125899906842597L) { (h, s) =>
      ((h * 31 + s.getPath.getName.hashCode) * 31 + s.getLen) * 31 + contentStamp(fs, s)
    }
  }

  /** CRC32 of a file's first 4 KB and last 8 KB (for parquet: the magic +
    * first page headers, and the footer's stats/offsets). */
  private def contentStamp(fs: org.apache.hadoop.fs.FileSystem,
      s: org.apache.hadoop.fs.FileStatus): Long = {
    val crc = new java.util.zip.CRC32()
    val len = s.getLen
    val in = fs.open(s.getPath)
    try {
      val headLen = math.min(4096L, len).toInt
      val head = new Array[Byte](headLen)
      in.readFully(0L, head)
      crc.update(head)
      // six evenly-spaced 4 KB interior windows: head+footer alone is
      // blind to a same-length mid-file edit whose row group keeps its
      // footer stats (value changed strictly inside the existing
      // min/max at identical encoded length) — interior samples shrink
      // that blind spot to edits that dodge every window; a residual
      // risk the docstring discloses (~36 KB of IO per file total)
      if (len > 16384) {
        val win = new Array[Byte](4096)
        val step = (len - 12288) / 7
        var k = 1
        while (k <= 6) {
          in.readFully(4096L + step * k, win)
          crc.update(win)
          k += 1
        }
      }
      val tailLen = math.min(8192L, len).toInt
      val tail = new Array[Byte](tailLen)
      in.readFully(len - tailLen, tail)
      crc.update(tail)
    } finally in.close()
    crc.getValue
  }

  /** Serving-index location for a corpus dir, inside the local warehouse.
    * The readable sanitized name is suffixed with a digest of the RAW dir
    * string: sanitization alone maps distinct dirs (`a/b` vs `a_b`) to
    * the same path, and two corpora must never serve each other's
    * index. Shared by the IVF and PQ families (distinct prefixes). */
  private[graft] def servePath(prefix: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    "spark-warehouse/" + prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + digest
  }

  private[graft] def ivfServePath(dir: String): String = servePath("ivf_serve_", dir)

  /** In-memory IVF search core over any (vec_id, vec) frame with a given
    * quantizer — [[knnIvf]] composes it with [[ivfFit]]; the index
    * lifecycle specs run it against appended/refreshed corpora. */
  /** Probe-cell ranking by raw centroid distance — the classical IVF
    * probe order, kept as the spec baseline for [[probeIdxByMargin]]. */
  private[graft] def probeIdxByDistance(centroids: Array[Array[Double]],
      qvec: Column, nProbe: Int): Column = {
    val pairs = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(l2sq(qvec, c).as("d"), lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(pairs), 1, nProbe), p => p.getField("i"))
  }

  /** Probe-cell ranking by BOUNDARY MARGIN: after the nearest cell, rank
    * candidates by the query's distance to the bisecting hyperplane
    * between the nearest centroid c0 and candidate ci —
    * `(d²(q,ci) − d²(q,c0)) / (2·‖ci − c0‖)` — rather than by raw
    * centroid distance (the multi-probe refinement of Lu et al.'s
    * multi-probe LSH applied to a coarse quantizer). A neighbor lost to
    * cell ci sits across that boundary, at distance >= the margin, so
    * small-margin cells are where lost neighbors actually are: a big
    * far-away cell whose boundary cuts close to the query outranks a
    * tight nearby cell whose boundary doesn't. Recall at fixed NProbe
    * degrades no worse than distance order (spec-gated >=). Pairwise
    * centroid norms are model state (NList² doubles), precomputed
    * driver-side and folded into the plan as literals. */
  /** Pairwise centroid distance — ONE definition shared by the
    * expression-form probe ranking and its driver-side serving twin: the
    * persisted==in-memory contract requires the same arithmetic in the
    * same order on both paths. */
  private def centroidDist(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)

  private[graft] def probeIdxByMargin(centroids: Array[Array[Double]],
      qvec: Column, nProbe: Int): Column = {
    val cdist = centroids.map(a => centroids.map(b => centroidDist(a, b)))
    val dArr = array(centroids.map(c => l2sq(qvec, c)): _*)
    val near = GraftFunctions.graftArgminL2(qvec, centsLit(centroids))
    val dNear = element_at(dArr, near + 1)
    val pairs = array(centroids.indices.map { i =>
      val cd = element_at(array(cdist(i).map(lit(_)): _*), near + 1)
      val margin = when(lit(i) === near, lit(Double.NegativeInfinity))
        // duplicate centroids (cd = 0) carry no boundary — probe them
        // right after the primary cell rather than dividing by zero
        .otherwise(when(cd > 0,
          (element_at(dArr, lit(i) + 1) - dNear) / (lit(2.0) * cd))
          .otherwise(lit(0.0)))
      struct(margin.as("m"), lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(pairs), 1, nProbe), p => p.getField("i"))
  }

  private[graft] def knnIvfOf(corpus: DataFrame, centroids: Array[Array[Double]],
      k: Int = KnnK, marginProbes: Boolean = true): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val listed = corpus.withColumn("cid",
      GraftFunctions.graftArgminL2(col("vec"), centsLit(centroids)))
    val probeIdx =
      if (marginProbes) probeIdxByMargin(centroids, col("qvec"), IvfNProbe)
      else probeIdxByDistance(centroids, col("qvec"), IvfNProbe)
    val queries = corpus
      .filter(col("vec_id") < KnnQueryBound)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      .withColumn("probe_cid", explode(probeIdx))
    val scored = listed
      .join(broadcast(queries), col("cid") === col("probe_cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cosine"))
    topkRanked(scored, k)
  }

  /** A served IVF generation: its directory (`model` + `lists`) and the
    * decoded quantizer; `trained` is the corpus size the quantizer was
    * fit on, the staleness base of [[refreshIvfIfStale]]. */
  private[graft] final case class IvfIndex(gen: ServingStore.Generation,
      centroids: Array[Array[Double]], trained: Long)

  private[graft] def ivfIndex(spark: SparkSession, dir: String): IvfIndex =
    modelStore(spark, "ivf-index", ivfServePath(dir), dir, IvfStoreVersion, ListsStore)(
      gen => writeIvfIndexOf(spark, emb(spark, dir), gen))(ivfOf)

  private def ivfOf(gen: ServingStore.Generation, m: Map[String, Array[Array[Double]]]) =
    IvfIndex(gen, m("centroids"), m("trained").head.head.toLong)

  /** Materialize a corpus as IVF INVERTED LISTS: parquet partitioned by
    * the trained quantizer's cell id. At corpus scale this layout IS the
    * index — the §5 claim made executable: a probe of NProbe cells reads
    * only those partitions (pruned at the file listing, never scanned),
    * so search I/O is NProbe/NList of the corpus by construction. The
    * model (centroids + the trained corpus size) is written beside the
    * lists into the same generation. */
  private def writeIvfIndexOf(spark: SparkSession, corpus: DataFrame,
      gen: ServingStore.Generation, nList: Int = IvfNList, iters: Int = IvfIters): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val n = corpus.count()
    val centroids = ivfFit(corpus, nList, iters, knownCount = Some(n))
    corpus
      .withColumn("cid", GraftFunctions.graftArgminL2(col("vec"), centsLit(centroids)))
      .write.mode("overwrite").partitionBy("cid").parquet(gen.path("lists"))
    ServingStore.writeModel(spark, gen.path("model"),
      "centroids" -> centroids, "trained" -> Array(Array(n.toDouble)))
  }

  /** Append newly landed vectors to the IVF index WITHOUT retraining:
    * each vector is assigned to its nearest existing centroid and lands
    * as a new file in that `cid=` cell ([[appendLists]]: model and lists
    * carry as hard links). Search over the appended index with the SAME
    * quantizer is exactly search over the union corpus; recall degrades
    * only as the data distribution drifts from the trained centroids,
    * which [[refreshIvfIfStale]] bounds. Same contract as
    * [[appendIvfPq]]. */
  def appendIvf(spark: SparkSession, dir: String, newVecs: DataFrame,
      expectedFp: Option[Long] = None): Unit =
    appendLists(spark, "ivf-index", ivfServePath(dir), dir, IvfStoreVersion, expectedFp) { prev =>
      val cents = ivfOf(prev, modelOf(spark, prev)).centroids
      newVecs.select(col("vec_id"), col("vec"),
        GraftFunctions.graftArgminL2(col("vec"), centsLit(cents)).as("cid"))
    }

  /** Staleness-triggered retrain: when the lists hold more than
    * `staleness` x the trained corpus size in appended rows, retrain the
    * quantizer over the FULL index contents (same deterministic Lloyd
    * fit as the original build) and write model and lists as a new
    * generation under the unchanged fingerprint. Returns true when a
    * refresh ran. */
  def refreshIvfIfStale(spark: SparkSession, dir: String,
      staleness: Double = 0.5, nList: Int = IvfNList, iters: Int = IvfIters): Boolean = {
    val ix = ivfIndex(spark, dir)
    val total = spark.read.parquet(ix.gen.path("lists")).count()
    if ((total - ix.trained).toDouble < staleness * ix.trained.toDouble) false
    else {
      ServingStore.deriveGeneration(spark, "ivf-index", ivfServePath(dir), ListsStore,
          carry = Nil)(identity) { (prev, next) =>
        writeIvfIndexOf(spark,
          spark.read.parquet(prev.path("lists")).select(col("vec_id"), col("vec")),
          next, nList, iters)
      }
      true
    }
  }

  /** Compact the IVF index's inverted lists back to one vector file per
    * cell ([[compactLists]]) — [[compactIvfPq]]'s twin for the RAW-vector
    * index. */
  def compactIvf(spark: SparkSession, dir: String): Unit =
    compactLists(spark, "ivf-index", ivfServePath(dir))

  /** Driver-side margin-probe ranking over the persisted model — the
    * serving-path twin of [[probeIdxByMargin]]: the same arithmetic in
    * the same order (kernel-order l2sq accumulation, first-wins argmin,
    * (margin, index) sort), evaluated as plain scalars on the driver
    * where the model already lives. The expression form folds the model
    * into the plan as NList·dim + NList² literals — right when the probe
    * must run per corpus row, but at SERVE time it buys megabyte task
    * binaries and a fresh codegen compile per model read for an
    * 8-row computation. */
  private[graft] def probeCellsDriver(centroids: Array[Array[Double]],
      q: Array[Float], nProbe: Int): Seq[Int] = {
    def l2sqTo(c: Array[Double]): Double = {
      val n = math.min(q.length, c.length)
      var acc = 0.0
      var i = 0
      while (i < n) { val d = q(i).toDouble - c(i); acc += d * d; i += 1 }
      acc
    }
    val d = centroids.map(l2sqTo)
    var near = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) { if (d(c) < bestD) { bestD = d(c); near = c }; c += 1 }
    val keyed = centroids.indices.map { i =>
      val m =
        if (i == near) Double.NegativeInfinity
        else {
          val cd = centroidDist(centroids(i), centroids(near))
          if (cd > 0) (d(i) - d(near)) / (2.0 * cd) else 0.0
        }
      (m, i)
    }
    keyed.sorted.take(nProbe).map(_._2)
  }

  /** IVF search over a materialized inverted-list index: each query's
    * NProbe cells become a partition-pruning filter on the index scan —
    * the unprobed cells' files are never opened. The query set is
    * client-scale by nature (vectors arrive from callers in a real
    * deployment), so it is collected and probed driver-side
    * ([[probeCellsDriver]]); corpus-side scoring stays distributed.
    * Results are identical to [[knnIvf]] over the same corpus and
    * quantizer. */
  private[graft] def knnIvfIndexed(spark: SparkSession, dir: String, lists: String,
      centroids: Array[Array[Double]], k: Int = KnnK): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val probed = emb(spark, dir)
      .filter(col("vec_id") < KnnQueryBound)
      .select(col("vec_id"), col("vec")).collect()
      .map { r =>
        val q = r.getSeq[Float](1).toArray
        (r.getLong(0), q, probeCellsDriver(centroids, q, IvfNProbe))
      }
    val queries = probed.toSeq
      .flatMap { case (id, q, cells) => cells.map(cid => (id, q.toSeq, cid)) }
      .toDF("query_id", "qvec", "probe_cid")
    val probedCells = probed.flatMap(_._3).distinct.toSeq
    val listed = spark.read.parquet(lists).filter(col("cid").isin(probedCells: _*))
    val scored = listed
      .join(broadcast(queries), col("cid") === col("probe_cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cosine"))
    topkRanked(scored, k)
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: [[PqM]] subspaces of dim/PqM components, [[PqK]] codes
    * per subspace — a 64-dim float32 vector (256 bytes) compresses to 8
    * one-byte codes, the 32x memory ratio that makes billion-vector ANN
    * fit a cluster's RAM at 100 TB corpus scale. */
  val PqM = 8
  val PqK = 256
  /** ADC shortlist size before the exact re-rank — the standard PQ
    * deployment shape (coarse candidates from compressed codes, exact
    * scores only for the short list). At PqK=256 the measured shortlist
    * recall@10 vs brute force is 1.0 on the harness corpus already at
    * shortlist 48; 64 adds margin at negligible re-rank cost. */
  val PqShortlist = 64

  /** Train PQ codebooks: one deterministic frame-native [[ivfFit]] per
    * subspace over the corpus's subvector slices — training state stays
    * distributed exactly as the coarse quantizer's does; only the final
    * PqM x PqK x dsub model (tiny, corpus-size-independent) reaches the
    * driver. Returns books(j)(c) = centroid c of subspace j. */
  def pqFit(corpus: DataFrame, m: Int = PqM, k: Int = PqK): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val dsub = dim / m
    (0 until m).toArray.map { j =>
      val sub = corpus.select(
        col("vec_id"), slice(col("vec"), j * dsub + 1, dsub).as("vec"))
      ivfFit(sub, nList = k)
    }
  }

  /** Per-row PQ code array: codes(j) = argmin_c l2(vec_j, books(j)(c)) —
    * m compiled argmin kernels inside the scan projection, zero shuffle. */
  private[graft] def pqCodesCol(books: Array[Array[Array[Double]]]): Column = {
    val dsub = books.head.head.length
    array(books.zipWithIndex.map { case (b, j) =>
      // typedLit folds each 256 x dsub codebook into ONE Literal node —
      // the element-wise array(array(lit)) form would put PqM x PqK x
      // dsub expression nodes into the plan and the generated code
      GraftFunctions.graftArgminL2(
        slice(col("vec"), j * dsub + 1, dsub),
        typedLit(b.map(_.toSeq).toSeq))
    }: _*)
  }

  /** PQ-reconstructed vector from a `codes` column: the concatenation of
    * each subspace's chosen centroid. Query-independent, so the serve
    * path projects it ONCE per corpus row, not per (query, row) pair. */
  private[graft] def pqReconCol(books: Array[Array[Array[Double]]]): Column = {
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(transform(col("codes"),
      (c, j) => element_at(element_at(booksLit, j + 1), c + 1)))
  }

  /** ADC + exact re-rank search core over a coded corpus: shortlist by
    * cosine against PQ reconstructions (asymmetric distance — the query
    * stays exact, the corpus side is its 8-byte code), then exact-score
    * ONLY the shortlist against true vectors. The corpus-scale scan
    * touches codes, never raw vectors; raw vectors are read for the 8
    * query rows (filter pushed to the scan) and the O(queries x
    * shortlist) re-rank join. Output schema/determinism identical to
    * [[knnBrute]] (ties by neighbor_id). */
  private[graft] def knnPqOf(spark: SparkSession, dir: String, coded: DataFrame,
      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val corpus = emb(spark, dir)
    val queries = broadcast(
      corpus.filter(col("vec_id") < KnnQueryBound)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec")))
    val adc = coded
      .withColumn("recon", pqReconCol(books))
      .join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qvec"), col("recon")).as("cosine"))
    pqRerank(adc, queries, corpus, k)
  }

  /** Shortlist + exact-re-rank tail shared by the flat-PQ and fused
    * IVF-PQ searches: ADC-scored candidates heap down to [[PqShortlist]]
    * per query, then ONLY the shortlist is re-scored against raw
    * vectors. */
  private def pqRerank(adcScored: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val shortlist = topkRanked(adcScored, PqShortlist)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val exact = broadcast(shortlist)
      .join(queries, Seq("query_id"))
      .join(corpus, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qvec"), col("vec")).as("cosine"))
    topkRanked(exact, k)
  }

  /** q_knn_pq from-scratch form (train + encode + search in one call) —
    * the reference the serve path is spec-checked against. */
  def knnPq(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val corpus = emb(spark, dir)
    val books = pqFit(corpus)
    knnPqOf(spark, dir, corpus.select(col("vec_id"), pqCodesCol(books).as("codes")),
      books, k)
  }

  /** Serving-index location for a corpus dir's PQ codes (sibling
    * namespace to [[ivfServePath]] — the two indexes never collide). */
  private[graft] def pqServePath(dir: String): String = servePath("pq_serve_", dir)

  /** Store versions of the PQ-coded model stores ([[IvfStoreVersion]]'s
    * convention) with the PqM x PqK geometry folded in: a generation
    * written under retuned constants rebuilds instead of regrouping into
    * wrong-shaped books, whose out-of-range code lookups would kill
    * (ANSI) or silently NULL every search. IVF-PQ's base version names
    * its encoding: OPQ-rotated residual codes. */
  private def pqVersion(base: Int): Int = (base * 31 + PqM) * 31 + PqK
  private val PqStoreVersion = pqVersion(1)
  private val OpqStoreVersion = pqVersion(1)
  private val IvfPqStoreVersion = pqVersion(2)

  /** Codebooks from a model's `books` part (row j·PqK + c = centroid c
    * of subspace j). */
  private def booksOf(m: Map[String, Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val flat = m("books")
    require(flat.length == PqM * PqK && flat.forall(_.length == flat.head.length),
      s"PQ model has ${flat.length} codebook rows, expected $PqM x $PqK of equal width")
    flat.grouped(PqK).toArray
  }

  /** The `rotation` part of an OPQ-rotated model over `books`. */
  private def rotationOf(m: Map[String, Array[Array[Double]]],
      books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val r = m("rotation")
    val dim = books.head.head.length * PqM
    require(r.length == dim && r.forall(_.length == dim),
      s"OPQ model has a ${r.length}-row rotation, expected $dim x $dim")
    r
  }

  /** Build the PQ index generation: train codebooks, write the coded
    * corpus (vec_id, codes) and the books. */
  private def writePqIndexOf(spark: SparkSession, corpus: DataFrame,
      gen: ServingStore.Generation): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val books = pqFit(corpus)
    corpus.select(col("vec_id"), pqCodesCol(books).as("codes"))
      .write.mode("overwrite").parquet(gen.path("codes"))
    ServingStore.writeModel(spark, gen.path("model"), "books" -> books.flatten)
  }

  /** q_knn_pq SERVING path: search the persisted coded corpus,
    * (re)building codebooks + codes only when absent or stale — same
    * fingerprint-keyed generation discipline as [[knnIvfServe]]
    * (training amortizes over searches; an equal-size content swap still
    * rebuilds). Results are bit-identical to [[knnPq]]: the f64 model
    * round-trips parquet exactly and encoding is deterministic
    * (first-wins argmin). */
  def knnPqServe(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val (gen, books) =
      modelStore(spark, "pq-index", pqServePath(dir), dir, PqStoreVersion, CodesStore)(
        gen => writePqIndexOf(spark, emb(spark, dir), gen))((gen, m) => (gen, booksOf(m)))
    withRecall(knnPqOf(spark, dir, spark.read.parquet(gen.path("codes")), books, k),
      spark, dir, k)
  }

  // ------------------------------------------------------------------ OPQ

  /** OPQ alternations (each = one full PQ refit + one closed-form
    * rotation solve). The rotation converges fast — a couple of
    * alternations capture most of the distortion gain (Ge et al.,
    * "Optimized Product Quantization", CVPR'13 report diminishing
    * returns within a handful); training is one-time index-build work
    * either way. */
  val OpqIters = 2

  /** y = R·x as a codegen'd projection: one dot product per output
    * component, R folded into a single Literal (the typedLit discipline
    * of [[pqCodesCol]]). */
  private[graft] def rotateCol(r: Array[Array[Double]], vec: Column): Column =
    transform(typedLit(r.map(_.toSeq).toSeq),
      row => aggregate(zip_with(row, vec, (a, b) => a * b.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v))

  /** Deterministic cross-correlation M = Σ recon(R·x)·xᵀ (the Procrustes
    * input) as a (dim x dim)-group decimal-summed aggregation:
    * order-independent sums, so the learned rotation is
    * partition-invariant like every other trained model here. The dim²
    * explode is training-only work, never query work — and at corpus
    * scale OPQ (like any quantizer training) runs over a bounded sample
    * while encoding runs over everything. */
  private def opqCorrelation(withRecon: DataFrame, dim: Int): Array[Array[Double]] = {
    val cells = withRecon
      .select(col("x"), posexplode(col("recon")))
      .toDF("x", "i", "yi")
      .select(col("i"), col("yi"), posexplode(col("x")))
      .toDF("i", "yi", "j", "xj")
      .groupBy(col("i"), col("j"))
      .agg(sum((col("yi") * col("xj")).cast(DecimalType(38, 18)))
        .cast(DoubleType).as("mij"))
      .collect()
    val m = Array.fill(dim)(new Array[Double](dim))
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    m
  }

  /** Closed-form orthogonal Procrustes step: argmin over orthogonal R of
    * ‖R·X − Y‖_F is U·Vᵀ for U·S·Vᵀ = svd(Y·Xᵀ). The SVD runs on the
    * driver over the dim x dim correlation — model-sized state, the same
    * line as the IVF centroid collect. */
  private def procrustes(m: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = m.length
    // breeze matrices are column-major: data(j*dim + i) = m(i)(j)
    val bm = new breeze.linalg.DenseMatrix(dim, dim,
      Array.tabulate(dim * dim)(idx => m(idx % dim)(idx / dim)))
    val s = breeze.linalg.svd(bm)
    val r = s.U * s.Vt
    Array.tabulate(dim, dim)((i, j) => r(i, j))
  }

  /** Train OPQ: an orthogonal rotation R plus PQ codebooks for the
    * ROTATED corpus, by alternating exact minimizations (Ge et al.,
    * CVPR'13): fix R, refit codebooks (Lloyd per subspace); fix
    * codebooks, solve R in closed form (Procrustes). The alternation
    * STARTS at the plain-PQ solution (R = I, one PQ fit), so it descends
    * from PQ's distortion — the spec pins no-worse reconstruction. The
    * subspace-decorrelating rotation is what lifts PQ when embedding
    * dimensions are correlated (the common case for learned
    * embeddings). */
  def opqFit(corpus: DataFrame, m: Int = PqM, k: Int = PqK, iters: Int = OpqIters)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val dim = corpus.select(size(col("vec"))).head().getInt(0)
    val x = corpus
      .select(col("vec_id"), transform(col("vec"), v => v.cast(DoubleType)).as("x"))
      .localCheckpoint(eager = false)
    var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var books: Array[Array[Array[Double]]] = null
    for (t <- 0 to iters) {
      // the rotated frame feeds pqFit's multi-pass Lloyd AND the
      // correlation pass — one materialization
      val rotated = x
        .select(col("vec_id"), col("x"), rotateCol(r, col("x")).as("vec"))
        .localCheckpoint(eager = false)
      books = pqFit(rotated.select(col("vec_id"), col("vec")), m, k)
      if (t < iters) {
        val withRecon = rotated
          .withColumn("codes", pqCodesCol(books))
          .withColumn("recon", pqReconCol(books))
        r = procrustes(opqCorrelation(withRecon, dim))
      }
    }
    (r, books)
  }

  /** Serving-index location for a corpus dir's OPQ generation. */
  private[graft] def opqServePath(dir: String): String = servePath("opq_serve_", dir)

  /** Build the OPQ index generation: train (R, books), write the coded
    * ROTATED corpus and the model (rotation + books). */
  private def writeOpqIndexOf(spark: SparkSession, corpus: DataFrame,
      gen: ServingStore.Generation): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val (r, books) = opqFit(corpus)
    corpus
      .select(col("vec_id"), rotateCol(r, col("vec")).as("vec"))
      .select(col("vec_id"), pqCodesCol(books).as("codes"))
      .write.mode("overwrite").parquet(gen.path("codes"))
    ServingStore.writeModel(spark, gen.path("model"), "rotation" -> r, "books" -> books.flatten)
  }

  /** ADC + exact re-rank over an OPQ-coded corpus: queries rotate into
    * the coded space for the shortlist pass (orthogonal rotation
    * preserves inner products, so ADC scores estimate the same cosines),
    * and the exact re-rank scores ORIGINAL vectors — identical output
    * contract to [[knnPqOf]]. */
  private[graft] def knnOpqOf(spark: SparkSession, dir: String, coded: DataFrame,
      r: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val corpus = emb(spark, dir)
    val queries = broadcast(
      corpus.filter(col("vec_id") < KnnQueryBound)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec")))
    val rq = broadcast(
      queries.select(col("query_id"), rotateCol(r, col("qvec")).as("rqvec")))
    val adc = coded
      .withColumn("recon", pqReconCol(books))
      .join(rq, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("rqvec"), col("recon")).as("cosine"))
    pqRerank(adc, queries, corpus, k)
  }

  /** q_knn_opq from-scratch form — the reference the serve path is
    * spec-checked against. */
  def knnOpq(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val corpus = emb(spark, dir)
    val (r, books) = opqFit(corpus)
    val coded = corpus
      .select(col("vec_id"), rotateCol(r, col("vec")).as("vec"))
      .select(col("vec_id"), pqCodesCol(books).as("codes"))
    knnOpqOf(spark, dir, coded, r, books, k)
  }

  /** q_knn_opq SERVING path — same fingerprint-keyed generation
    * discipline as [[knnPqServe]]. */
  def knnOpqServe(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val (gen, r, books) =
      modelStore(spark, "opq-index", opqServePath(dir), dir, OpqStoreVersion, CodesStore)(
        gen => writeOpqIndexOf(spark, emb(spark, dir), gen)) { (gen, m) =>
        val books = booksOf(m)
        (gen, rotationOf(m, books), books)
      }
    withRecall(knnOpqOf(spark, dir, spark.read.parquet(gen.path("codes")), r, books, k),
      spark, dir, k)
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Driver-side matrix-vector product for rotating MODEL-SIZED state
    * (centroids, collected query rows) — never corpus rows. */
  private def matvec(r: Array[Array[Double]], x: Array[Double]): Array[Double] =
    r.map { row =>
      var s = 0.0
      var i = 0
      while (i < row.length) { s += row(i) * x(i); i += 1 }
      s
    }

  /** Cell assignment + residual against the cell centroid, in one
    * projection — the IVF-PQ encoding's first half, shared by the build
    * and [[appendIvfPq]]. */
  private def ivfPqResiduals(vecs: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    vecs
      .select(col("vec_id"), col("vec"),
        GraftFunctions.graftArgminL2(col("vec"), centsLit(centroids)).as("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("vec"), element_at(centsLit(centroids), col("cid") + 1),
          (x, c) => x.cast(DoubleType) - c).as("vec"))

  /** PQ codes of the ROTATED residuals: the list rows (vec_id, cid,
    * codes). */
  private def ivfPqCodes(residuals: DataFrame, rot: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    residuals
      .select(col("vec_id"), col("cid"), rotateCol(rot, col("vec")).as("vec"))
      .select(col("vec_id"), col("cid"), pqCodesCol(books).as("codes"))

  /** Build the FUSED billion-scale ANN index: the coarse quantizer
    * partitions the corpus into inverted lists (`partitionBy(cid)`) and
    * each row stores only its 8-byte PQ code — probes become
    * partition-pruned scans of compressed codes, the FAISS IVFPQ layout.
    * Codebooks train on and encode OPQ-ROTATED RESIDUALS R·(x − c(cid))
    * — the IVFADC refinement composed with the OPQ pretransform, the
    * standard billion-scale configuration: residuals center and tighten
    * the distribution per cell, the learned orthogonal rotation
    * ([[opqFit]]) then decorrelates the PQ subspaces, so the same
    * 8-byte budget reconstructs tighter than either refinement alone
    * (spec-pinned no-worse than plain-residual books). Decode inverts
    * the rotation (Rᵀ, orthogonality) and adds the centroid back
    * ([[knnIvfPq]]), so re-rank semantics are unchanged. Writes `lists`
    * and `model` (centroids, rotation, books) into `gen`. */
  private[graft] def writeIvfPqIndexOf(spark: SparkSession, corpus: DataFrame,
      gen: ServingStore.Generation)
      : (Array[Array[Double]], Array[Array[Double]], Array[Array[Array[Double]]]) = {
    GraftFunctions.ensureRegistered(spark)
    val centroids = ivfFit(corpus)
    // the lazy checkpoint lets PQ training's multi-pass Lloyd iterations
    // re-read the residual frame instead of re-running the argmin kernel
    // per pass
    val residuals = ivfPqResiduals(corpus, centroids).localCheckpoint(eager = false)
    val (rot, books) = opqFit(residuals)
    ivfPqCodes(residuals, rot, books)
      .write.mode("overwrite").partitionBy("cid").parquet(gen.path("lists"))
    ServingStore.writeModel(spark, gen.path("model"),
      "centroids" -> centroids, "rotation" -> rot, "books" -> books.flatten)
    (centroids, rot, books)
  }

  /** Search the fused index: driver-ranked probe cells prune the codes
    * scan to the UNION of the queries' probed partitions, and each
    * query's ADC pass joins ONLY its own NProbe cells (cid ===
    * probe_cid) — per query the candidate set is NProbe/NList of the
    * corpus, in 32x-compressed codes; exact re-rank against raw
    * vectors scores only the shortlist. The raw corpus is touched for
    * the 8 query rows and O(queries x shortlist) re-rank lookups. */
  def knnIvfPq(spark: SparkSession, dir: String, lists: String,
      centroids: Array[Array[Double]], rot: Array[Array[Double]],
      books: Array[Array[Array[Double]]], k: Int = KnnK): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val corpus = emb(spark, dir)
    // ONE collect serves probing AND the query frames (knnIvfIndexed's
    // shape) — no second corpus scan for the same 8 rows
    val probed = corpus
      .filter(col("vec_id") < KnnQueryBound)
      .select(col("vec_id"), col("vec")).collect()
      .map { r =>
        val q = r.getSeq[Float](1).toArray
        (r.getLong(0), q, probeCellsDriver(centroids, q, IvfNProbe))
      }
    val probedCells = probed.flatMap(_._3).distinct.toSeq
    // each query joins ONLY its own probed cells (cid === probe_cid):
    // the union-of-cells filter alone would score every query against
    // every probed partition — flat PQ with extra steps, and no IVF
    // candidate restriction at all.
    // ADC scores IN THE ROTATED SPACE: cosine is orthogonal-invariant
    // (cos(q, c + Rᵀy) == cos(Rq, Rc + y)), so the per-row decode stays
    // "rotated centroid + stored recon" — the rotation applies ONLY to
    // model-sized state (NList centroids and the 8 collected query
    // rows, both on the driver), never to corpus rows.
    val rotCents = centroids.map(matvec(rot, _))
    val probeQueries = broadcast(probed.toSeq
      .flatMap { case (id, q, cells) =>
        cells.map(cid => (id, matvec(rot, q.map(_.toDouble)).toSeq, cid))
      }
      .toDF("query_id", "rqvec", "probe_cid"))
    val queries = broadcast(probed.toSeq
      .map { case (id, q, _) => (id, q.toSeq) }
      .toDF("query_id", "qvec"))
    val listed = spark.read.parquet(lists)
      .filter(col("cid").isin(probedCells: _*))
    val adc = listed
      .withColumn("recon",
        zip_with(element_at(centsLit(rotCents), col("cid") + 1),
          pqReconCol(books), (c, r) => c + r))
      .join(probeQueries, col("cid") === col("probe_cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("rqvec"), col("recon")).as("cosine"))
    pqRerank(adc, queries, corpus, k)
  }

  /** Serving-index location for a corpus dir's fused IVF-PQ index. */
  private[graft] def ivfPqServePath(dir: String): String = servePath("ivfpq_serve_", dir)

  /** A served IVF-PQ generation and its decoded model. */
  private[graft] final case class IvfPqIndex(gen: ServingStore.Generation,
      centroids: Array[Array[Double]], rot: Array[Array[Double]],
      books: Array[Array[Array[Double]]])

  private[graft] def ivfPqIndex(spark: SparkSession, dir: String): IvfPqIndex =
    modelStore(spark, "ivfpq-index", ivfPqServePath(dir), dir, IvfPqStoreVersion, ListsStore)(
      gen => writeIvfPqIndexOf(spark, emb(spark, dir), gen))(ivfPqOf)

  private def ivfPqOf(gen: ServingStore.Generation, m: Map[String, Array[Array[Double]]]) = {
    val books = booksOf(m)
    IvfPqIndex(gen, m("centroids"), rotationOf(m, books), books)
  }

  /** q_knn_ivfpq SERVING path — same fingerprint-keyed generation
    * discipline as the flat PQ and IVF serves. */
  def knnIvfPqServe(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    val ix = ivfPqIndex(spark, dir)
    withRecall(knnIvfPq(spark, dir, ix.gen.path("lists"), ix.centroids, ix.rot, ix.books, k),
      spark, dir, k)
  }

  /** Incrementally maintain the fused IVF-PQ index after an embedding
    * ingest: encode ONLY the new vectors with the EXISTING coarse
    * quantizer, rotation and codebooks, and commit them as new files in
    * their `cid=` cells of a new generation that carries every committed
    * file as a hard link ([[appendLists]]) — the embedding-side twin of
    * [[Dedup.appendPostings]], and the standard production shape (a
    * trained quantizer absorbs new vectors without retraining; drift is
    * a slow, monitored process handled by periodic rebuilds, not by
    * re-encoding the corpus per ingest). At 100 TB this is the
    * difference between encoding a day's vectors and re-clustering
    * everything.
    *
    * Contract mirrors [[Dedup.appendPostings]]: call AFTER the delta
    * files land in `dir`, passing exactly the newly-landed vectors;
    * `expectedFp` (the corpus fingerprint captured BEFORE the delta
    * landed) proves the generation matches the corpus the delta
    * extends. */
  def appendIvfPq(spark: SparkSession, dir: String, newVecs: DataFrame,
      expectedFp: Option[Long] = None): Unit =
    appendLists(spark, "ivfpq-index", ivfPqServePath(dir), dir, IvfPqStoreVersion,
        expectedFp) { prev =>
      // encode the delta EXACTLY as the build path does
      val ix = ivfPqOf(prev, modelOf(spark, prev))
      ivfPqCodes(ivfPqResiduals(newVecs, ix.centroids), ix.rot, ix.books)
    }

  /** Compact an IVF-PQ generation's inverted lists back to one code file
    * per cell ([[compactLists]]): probes before and after read identical
    * rows. */
  def compactIvfPq(spark: SparkSession, dir: String): Unit =
    compactLists(spark, "ivfpq-index", ivfPqServePath(dir))

  /** q_dedup_embedding_resolve — keep-one-copy canonicalization over the
    * embedding near-dup graph: [[embeddingDedup]] pairs resolved to
    * connected-component canonical ids by the same large-star/small-star
    * loop the text pipeline uses ([[Dedup.resolveComponents]] — O(log n)
    * rounds, distributed label verification). The cross-modal
    * counterpart of q_dedup_resolve: text near-dups catch verbatim
    * copies, embedding near-dups catch paraphrases — a curation
    * pipeline resolves BOTH graphs to canonical sets. */
  def embeddingDedupResolve(spark: SparkSession, dir: String): DataFrame =
    Dedup.resolveComponents(
      embeddingDedup(spark, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("canonical_id"))

  /** Cell count for cluster-blocked dedup: ~24 vectors per cell,
    * clamped — SemDeDup's k scales with the corpus so in-cell pairwise
    * work stays near-linear (n/k vectors per cell → n·(n/k) candidate
    * pairs; fixed k would make it quadratic again at 100 TB). */
  private def semCellCount(n: Long): Int =
    math.max(16L, math.min(4096L, n / 24)).toInt

  /** Cells holding more vectors than this are dropped from pairing
    * (embedding-collapse hubs — e.g. empty-document zero vectors);
    * drops are observed, not silent (the [[Dedup.HotShingleCap]]
    * convention). */
  val SemCellCap = 512

  private[graft] def semCellsServePath(dir: String): String =
    servePath("semcells_serve_", dir)

  private val SemCellsStoreVersion = 1

  /** Serve-or-train the dedup cell quantizer — a model store like the ANN
    * indexes, holding only the `model` (the blocker needs centroids, not
    * materialized lists). */
  private[graft] def serveSemCells(spark: SparkSession, dir: String): Array[Array[Double]] =
    modelStore(spark, "sem-cells", semCellsServePath(dir), dir, SemCellsStoreVersion,
        Seq(Model)) { gen =>
      val corpus = emb(spark, dir)
      val n = corpus.count()
      ServingStore.writeModel(spark, gen.path("model"),
        "centroids" -> ivfFit(corpus, semCellCount(n), knownCount = Some(n)))
    }((_, m) => m("centroids"))

  private[graft] def semAssignServePath(dir: String): String =
    servePath("semassign_serve_", dir)

  /** Bumped on any change to assignment semantics (argmin2 kernel,
    * SemCellCap, the mask encoding): the generation key must see code
    * changes the file fingerprint cannot (the
    * [[Multimodal.HashStoreVersion]] convention, shared by every r13
    * signature store). */
  private[graft] val SemAssignStoreVersion = 1

  private[graft] def semAssignFingerprint(spark: SparkSession, dir: String): Long =
    corpusFingerprint(spark, dir) * 31 + SemAssignStoreVersion

  /** q_dedup_embedding_cells — SemDeDup-style cluster-blocked embedding
    * near-dup (Abbas et al. 2023, arXiv:2303.09540: k-means the
    * embedding space, verify pairs WITHIN cells): candidates share one
    * of their TOP-2 nearest cells (the secondary assignment catches the
    * boundary pairs single-cell blocking loses), verified by exact
    * cosine. The density-adaptive complement of [[embeddingDedup]]'s
    * data-oblivious LSH bands — clusters follow the corpus distribution,
    * so near-dup-dense regions block together at any scale. The cell
    * quantizer is a persisted fingerprint-keyed generation (the same
    * Lloyd fit and model-store discipline as the ANN index family); blocking
    * is one codegen'd top-2 argmin projection over the scan, pairs are
    * emitted exactly once at their smallest shared cell (no pair-stream
    * distinct), hot cells capped with observed drops.
    *
    * Serving: the per-vector ASSIGNMENT table (vec_id, vec, cs, mask)
    * persists as its own fingerprint-keyed generation — an assignment
    * is a pure per-vector function of the corpus + quantizer, so the
    * argmin projection, the hot-cell census and the survival-mask
    * aggregate are paid once per corpus generation (the simhash
    * signature-store discipline, r13); per query only the cell-local
    * pairing join runs. The store carries the vector alongside its
    * assignment (the IVF-cell layout) so serving never rescans the
    * corpus table. */
  def embeddingDedupCells(spark: SparkSession, dir: String,
      threshold: Double = 0.45): DataFrame =
    cellPairsFrom(serveCellAssignments(spark, dir), threshold)

  /** Serve-or-build the cell-assignment generation. The quantizer stays
    * its own (inner) store: it is model state other surfaces could
    * cite, and a crash between the two writes leaves the assignment
    * sidecar stale -> assignments rebuild, quantizer serves (never a
    * fresh-looking half-built pair). */
  private[graft] def serveCellAssignments(spark: SparkSession, dir: String): DataFrame = {
    val fp = semAssignFingerprint(spark, dir)
    ServingStore.ensure(spark, "sem-cell-assignments", semAssignServePath(dir), fp) { gen =>
      val cents = serveSemCells(spark, dir)
      cellAssignmentsOf(emb(spark, dir), cents)
        .write.mode("overwrite").parquet(gen)
    }
  }

  /** Frame-based composition of [[cellAssignmentsOf]] and
    * [[cellPairsFrom]] — specs run it with planted corpora and their
    * own quantizers; the serving form is bit-equal by construction
    * (spec-pinned). */
  private[graft] def embeddingDedupCellsOf(corpus: DataFrame,
      cents: Array[Array[Double]], threshold: Double,
      cellCap: Int = SemCellCap): DataFrame =
    cellPairsFrom(cellAssignmentsOf(corpus, cents, cellCap), threshold)

  /** Build phase: per-vector top-2 cell assignment with the hot-cell
    * survival mask — (vec_id, vec, cs, mask), one row per vector that
    * survived in at least one of its cells. */
  private[graft] def cellAssignmentsOf(corpus: DataFrame,
      cents: Array[Array[Double]], cellCap: Int = SemCellCap): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    // typedLit, NOT centsLit: the dedup quantizer is ~n/24 cells (250+
    // at sf0.1), and a CreateArray tree of cells x dim literal nodes
    // bloats analysis and generated code per call — one folded Literal
    // keeps the plan model-size-independent (the knnPq codebook
    // discipline)
    val centsCol = typedLit(cents.map(_.toSeq).toSeq)
    val cells0 = corpus
      .select(col("vec_id"), col("vec"),
        call_function(GraftFunctions.Argmin2L2Name, col("vec"), centsCol).as("cs"))
      .select(col("vec_id"), col("vec"), col("cs"), posexplode(col("cs")))
      .toDF("vec_id", "vec", "cs", "slot", "cell")
      // Argmin2L2 pads a single-centroid quantizer's output to
      // (primary, primary) so element_at(cs, 2) below stays total;
      // drop the duplicated slot here so hot counts, masks and the
      // pair join see one assignment, not two
      .filter(col("slot") === 0 || col("cell") =!= element_at(col("cs"), 1))
      .localCheckpoint(eager = false)
    val hot = cells0.groupBy(col("cell")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cellCap)
      .select(col("cell"), col("df"))
      .observe(s"semcell_hot_drops_${Dedup.nextObsId()}",
        count(lit(1)).as("hot_cells"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_rows"))
      .select(col("cell"))
    // per-vector SURVIVAL MASK (bit i set iff slot-i cell was not hot):
    // a matching cell is the SAME cell on both sides, so survival is a
    // shared property of the pair and "the pair's smallest shared
    // SURVIVING cell" is well-defined from one side's mask — without the
    // survival term, a pair whose smallest shared cell is hot would be
    // suppressed at its surviving cell too and silently lost (the
    // [[Dedup.chunkedHammingPairs]] mask discipline)
    cells0
      .join(hot, Seq("cell"), "left_anti")
      .groupBy(col("vec_id"))
      .agg(first(col("vec")).as("vec"), first(col("cs")).as("cs"),
        sum(when(col("slot") === 0, 1L).otherwise(2L)).as("mask"))
      .select(col("vec_id"), col("vec"), col("cs"), col("mask"))
  }

  /** Serve phase: cell-local pairing over an assignment frame
    * (vec_id, vec, cs, mask) — re-derives the surviving (slot, cell)
    * stream from the mask, joins within cells, and emits each pair
    * exactly once at its smallest shared SURVIVING cell. */
  private[graft] def cellPairsFrom(assignments: DataFrame,
      threshold: Double): DataFrame = {
    GraftFunctions.ensureRegistered(assignments.sparkSession)
    val cells = assignments
      .select(col("vec_id"), col("vec"), col("cs"), col("mask"),
        posexplode(col("cs")))
      .toDF("vec_id", "vec", "cs", "mask", "slot", "cell")
      .filter(col("mask").bitwiseAND(when(col("slot") === 0, 1L).otherwise(2L)) =!= 0L)
      .localCheckpoint(eager = false)
    // exactly-once emission at the pair's smallest shared surviving
    // cell: at the joined cell, no combination of the two top-2 arrays
    // may share an earlier cell that SURVIVED (4 comparisons, unrolled)
    def csA(i: Int) = element_at(col("cs"), i + 1)
    def csB(j: Int) = element_at(col("cs_b"), j + 1)
    val earlierShared = (for (i <- 0 until 2; j <- 0 until 2)
      yield (csA(i) === csB(j)) && (csA(i) < col("cell")) &&
        (col("mask").bitwiseAND(lit(1L << i)) =!= 0L)).reduce(_ || _)
    cells
      .join(cells.select(col("vec_id").as("vec_b"), col("vec").as("vb"),
        col("cs").as("cs_b"), col("cell")), Seq("cell"))
      .filter(col("vec_id") < col("vec_b"))
      .filter(!earlierShared)
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        cosine(col("vec"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private[graft] def embSigsServePath(dir: String): String =
    servePath("emb_sigs_", dir)

  /** Bumped on any change to signature semantics (the hyperplane
    * table, Bands/PlanesPerBand) — the [[SemAssignStoreVersion]]
    * convention. */
  private[graft] val EmbSigStoreVersion = 1

  /** The fingerprint the signature generation is keyed by — callers
    * snapshot it BEFORE landing a delta ([[appendEmbSigs]]). */
  def embSigsFingerprint(spark: SparkSession, dir: String): Long =
    corpusFingerprint(spark, dir) * 31 + EmbSigStoreVersion

  /** q_dedup_embedding — embedding-cosine near-dup pairs via LSH-banded
    * candidate generation (threshold tuned to the harness corpus, which
    * has no planted >0.9 pairs — see SURVEY §2B).
    *
    * Serving: the per-vector band-signature table (vec_id, vec, bks)
    * persists as a fingerprint-keyed generation (the simhash
    * signature-store discipline, r13) — the hyperplane projection scan
    * is paid once per corpus generation, and the store carries the
    * vector so the verify joins read it instead of rescanning the
    * corpus. [[embeddingDedupResolve]] serves the SAME generation, so
    * the pair of queries shares one projection instead of two.
    * Signatures are threshold-independent: the store key is the corpus
    * fingerprint and the signature-semantics version
    * ([[EmbSigStoreVersion]]) — no threshold term.
    *
    * SIZE-ADAPTIVE STRATEGY (r13 verdict): the band space is FIXED at
    * 2^PlanesPerBand = 16 buckets per band (more planes per band would
    * collapse recall at this cosine threshold — the classic LSH tuning
    * coupling), so expected bucket population is n/16 and every bucket
    * crosses [[Dedup.BandBucketCap]] once the corpus passes
    * [[LshSaturationBound]] (~8k vectors at the defaults) — past that
    * the LSH blocking degenerates to the hot-bucket representative
    * stars. The registered query therefore switches strategy at the
    * bound, the [[Dedup.resolveComponents]] precedent: below it the
    * data-oblivious LSH banding runs (and its signature store serves);
    * above it the query delegates to [[embeddingDedupCells]], whose
    * cell count scales with the corpus — same output contract
    * (near-dup pairs with exact cosine at `threshold`), corpus-adaptive
    * blocking. Do NOT raise PlanesPerBand instead: recall collapses.
    * The strategy probe is one parquet count over the embeddings
    * table — footer metadata, no column scan. */
  def embeddingDedup(spark: SparkSession, dir: String, threshold: Double = 0.45): DataFrame =
    if (emb(spark, dir).count() > LshSaturationBound)
      embeddingDedupCells(spark, dir, threshold)
    else embeddingDedupOf(serveEmbSigs(spark, dir), threshold)

  /** Corpus size at which the fixed 2^PlanesPerBand-bucket band space
    * saturates: expected bucket population n / 2^PlanesPerBand crosses
    * [[Dedup.BandBucketCap]] at cap x 2^PlanesPerBand vectors (8000 at
    * the defaults). Above it [[embeddingDedup]] runs the cells
    * blocking. */
  private[graft] val LshSaturationBound: Long =
    (1L << PlanesPerBand).toLong * Dedup.BandBucketCap

  /** Serve-or-build the LSH band-signature generation. */
  private[graft] def serveEmbSigs(spark: SparkSession, dir: String): DataFrame =
    ServingStore.ensure(spark, "emb-lsh-sigs", embSigsServePath(dir),
        embSigsFingerprint(spark, dir)) { gen =>
      embSigsOf(emb(spark, dir)).write.mode("overwrite").parquet(gen)
    }

  /** The band-signature store's delta expressions over raw
    * embeddings-table rows: a signature is a pure per-vector function
    * (fixed hyperplanes), so the delta's projection alone produces
    * exactly the rows a full rebuild over old ∪ delta adds. The cell
    * ASSIGNMENT store has no append on purpose: its survival masks
    * derive from the corpus-global hot-cell census, so a delta can
    * flip any vector's mask and the append IS the rebuild. Shared by
    * [[appendEmbSigs]] and the stream fold ([[graft.streaming.SigSink]]). */
  private[graft] def embSigRows(spark: SparkSession, dir: String): ServingStore.RowStore =
    ServingStore.RowStore(spark, "emb-lsh-sigs", embSigsServePath(dir), "vec_id",
      rows = v => embSigsOf(v.select(col("vec_id"), col("embedding").as("vec"))),
      postFp = () => embSigsFingerprint(spark, dir),
      corpus = () => Tables.embeddings(spark, dir))

  /** Incremental ingest for the band-signature store — the
    * [[ServingStore.append]] protocol over [[embSigRows]]. `newVecs` are
    * raw embeddings-table rows already landed in `dir`. */
  def appendEmbSigs(spark: SparkSession, dir: String, newVecs: DataFrame,
      expectedFp: Long): Unit =
    embSigRows(spark, dir).append(newVecs, expectedFp)

  /** Build phase: one codegen'd hyperplane projection over the corpus
    * scan — (vec_id, vec, bks). */
  private[graft] def embSigsOf(corpus: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    corpus.select(col("vec_id"), col("vec"),
      call_function(GraftFunctions.HplaneIndexName, col("vec")).as("bks"))
  }

  /** Serve phase: banded blocking through the shared exactly-once core
    * ([[Dedup.firstSharedBandPairs]] — no pair-stream distinct), exact
    * cosine verification over the store's own vector column. Bit-equal
    * to projecting signatures inline (spec-pinned). */
  private[graft] def embeddingDedupOf(sigs: DataFrame, threshold: Double): DataFrame = {
    // a warm store serves without ever touching the build projection, so
    // the cosine registration must happen HERE, not only in embSigsOf
    GraftFunctions.ensureRegistered(sigs.sparkSession)
    val candidates = Dedup.firstSharedBandPairs(
      sigs.select(col("vec_id").as("id"), col("bks")), LshBands)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    candidates
      .join(sigs.select(col("vec_id").as("vec_a"), col("vec").as("va")), Seq("vec_a"))
      .join(sigs.select(col("vec_id").as("vec_b"), col("vec").as("vb")), Seq("vec_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }
}
