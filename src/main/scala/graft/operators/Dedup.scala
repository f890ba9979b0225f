package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection for LLM-corpus curation: n-gram Jaccard,
  * MinHash+LSH banding, and SimHash.
  *
  * Scale design (the part that matters at 100 TB):
  *  - Candidate generation is NEVER O(n²). The Jaccard verifier joins on
  *    shared shingles with a hot-shingle cap; MinHash joins on LSH band
  *    buckets (O(rows x bands)); SimHash joins on 16-bit chunks
  *    (pigeonhole for hamming <= 3).
  *  - Per-document signatures (MinHash, SimHash) are computed by native
  *    per-row kernels inside the scan projection — zero shuffles (the
  *    exploded-token aggregate formulations are kept only as spec
  *    reference implementations).
  *  - Pair outputs are keyed (doc_a < doc_b) and distinct, so downstream
  *    keep-one-copy policies are a trivial min() per connected component.
  */
object Dedup {
  /** 5-word shingles over whitespace-normalized text; documents shorter
    * than one shingle are excluded (they cannot near-dup at n=5). */
  /** Single source of truth with the kernel's constant — the registered
    * `graft_shingle_set` function, the aggregate reference formulation
    * and the DuckDB oracle must all shingle at the same n. */
  val ShingleN: Int = graft.functions.MinHashKernel.ShingleN
  /** Test-flag override for the hot-cap valves (r18 verdict #3: the
    * skew gate's committed run never engaged a valve, so the
    * drop-accounting path it exists to exercise went untested). The
    * caps are QUERY-TIME filters — no persisted generation embeds them
    * — so a lowered cap never poisons a serving store; the oracle SQL
    * generators read the same vals in the same JVM, so oracle and
    * engine stay consistent under an override. Production leaves the
    * envs unset and gets the code constants. */
  private def envCap(name: String, default: Int): Int =
    sys.env.get(name).map(_.toInt).getOrElse(default)

  /** Shingles appearing in more docs than this are dropped from candidate
    * generation (stopword-phrase guard; the cap is part of the operator's
    * contract and mirrored in the oracle). Override:
    * GRAFT_HOT_SHINGLE_CAP (skew gate only — see [[envCap]]). */
  val HotShingleCap: Int = envCap("GRAFT_HOT_SHINGLE_CAP", 100)

  /** Shingles reduced to 64-bit hashes BEFORE the join passes — the
    * shuffle then moves 8-byte keys instead of ~40-byte strings, and all
    * downstream equality is integer compare. The per-doc DISTINCT happens
    * INSIDE the scan via the [[graft.functions.ShingleHashSet]] kernel,
    * so no distinct shuffle of the exploded shingle stream exists at all
    * (the r1 formulation paid one, repeated for every reference to this
    * subtree across the self-join). Collision caveat (probability
    * ~n²/2^64 over distinct shingles): a collision merges two shingles'
    * document frequencies, which can perturb the hot set AND the
    * shared/size counts feeding the Jaccard values — i.e. it can in
    * principle flip a pair across the threshold, not just change
    * candidate counts. The DuckDB oracle computes df over raw strings, so
    * a collision would surface as a loud hash-parity failure rather than
    * silent drift; none has occurred at any tested scale. */
  /** Per-doc distinct shingle-hash sets, lazily checkpointed: the compact
    * representation (one row per doc) that every posting-list consumer
    * derives from (ngramJaccard references it four ways), so the
    * shingle-kernel scan runs once and re-reads come from block storage.
    * This is the 100 TB shape too: persist the per-doc sketch once,
    * derive posting streams from it. */
  private[graft] def shingleSets(docs: DataFrame, extra: Column*): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select((col("doc_id") +: extra :+
        call_function(graft.functions.GraftFunctions.ShingleSetName, col("text")).as("hs")): _*)
      .filter(col("hs").isNotNull)
      .localCheckpoint(eager = false)
  }

  private[graft] def shingleHashes(docs: DataFrame): DataFrame =
    shingleSets(docs).select(col("doc_id"), explode(col("hs")).as("h"))

  /** The r1 explode+distinct formulation, kept as the independent
    * reference implementation the kernel is spec-checked against. */
  private[graft] def shingleHashesAgg(docs: DataFrame): DataFrame = {
    val words = docs.select(
      col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("w"))
    words
      .filter(size(col("w")) >= ShingleN)
      .select(
        col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(w) - ${ShingleN - 1}), i -> xxhash64(concat_ws(' ', slice(w, i, $ShingleN))))"))
          .as("h"))
      .distinct()
  }

  /** Observation names carry a unique numeric suffix: observed metric
    * names must be unique WITHIN a query, and one user query may
    * legitimately combine several registered views that each carry a
    * drop counter. The suffix is NOT stable across plan-construction
    * order — metric consumers should match on the `ngram_hot_drops_` /
    * `simhash_hot_drops_` prefix, not an exact name. */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()
  private[operators] def nextObsId(): Long = obsId.incrementAndGet()

  private def hotShingles(sh: DataFrame): DataFrame =
    sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > HotShingleCap)
      .select(col("h"), col("df"))
      // logged drop count: recorded as a named observation on the main
      // job (no extra action) — silent truncation would read as coverage
      .observe(s"ngram_hot_drops_${obsId.incrementAndGet()}",
        count(lit(1)).as("hot_shingles"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_postings"))
      .select(col("h"))

  /** q_dedup_ngram — exact n-gram Jaccard similarity for all candidate
    * pairs sharing at least one (non-hot) shingle; pairs with J >= 0.8. */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // [[shingleSets]] serves its four consumers here (hot-df pass, both
    // self-join sides, per-doc sizes) from one checkpointed kernel scan.
    // The hot-cap anti-join stays UNmaterialized and planner-chosen:
    // HotShingleCap bounds each shingle's df, NOT the number of hot
    // shingles, so the hot side can be large on a boilerplate-heavy
    // corpus — a join (broadcast while small, shuffle when the planner
    // says so) degrades gracefully where a collected single-row array
    // would not. Sizes aggregate the anti-joined postings for the same
    // reason: bounded memory at any hot-set cardinality.
    val sets = shingleSets(docs)
    val postings = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val sh = postings.join(hotShingles(postings), Seq("h"), "left_anti")
    jaccardPairsFrom(sh, threshold)
  }

  /** The verifier tail shared by [[ngramJaccard]] and
    * [[ngramJaccardBucketed]]: from a deduplicated, hot-capped
    * (doc_id, h) posting stream to thresholded Jaccard pairs. */
  private def jaccardPairsFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val pairs = sh
      .join(
        sh.select(col("doc_id").as("doc_b"), col("h")),
        Seq("h"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb")), "doc_b")
      .withColumn(
        "jaccard",
        col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
  }

  /** Write the distinct per-doc shingle-hash postings as a table
    * BUCKETED AND SORTED on `h` — the candidate join's shuffle paid
    * ONCE at indexing time. At 100 TB this is the difference between
    * re-shuffling the full posting stream on every dedup run and a
    * bucket-local join over co-located files: the posting table is the
    * dedup INDEX, maintained like the IVF inverted lists. */
  def writeBucketedPostings(spark: SparkSession, docs: DataFrame,
      table: String, path: String, numBuckets: Int = 16): Unit =
    shingleHashes(docs)
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "h").sortBy("h")
      .option("path", path).saveAsTable(table)

  /** Bucketed-posting variant of [[ngramJaccard]]: the hot-cap df
    * aggregation, the anti-join and BOTH sides of the candidate
    * self-join are keyed on `h` — on a bucketed+sorted posting table
    * every one of them is exchange-free and sort-free (bucket-local).
    * The only shuffles left in the whole query are the doc-keyed
    * aggregations, which no physical layout can avoid. PlatformSpec
    * writes the table and pins the plan's exchange count; results are
    * asserted equal to [[ngramJaccard]] on the same corpus. */
  def ngramJaccardBucketed(spark: SparkSession, table: String,
      threshold: Double = 0.8): DataFrame = {
    val sh0 = spark.table(table)
    val sh = sh0.join(hotShingles(sh0), Seq("h"), "left_anti")
    jaccardPairsFrom(sh, threshold)
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.documents(spark, dir))

  // ------------------------------------- persisted posting index (serving)

  /** Buckets for the serving posting index. 16 keeps every bucket-local
    * task comfortably sized at harness scale; at corpus scale this knob
    * scales with the posting volume exactly like IVF's list count. */
  val PostingsBuckets = 16

  /** Serving location for a corpus dir's posting index (same digest
    * discipline as [[Similarity.servePath]]: distinct dirs never share). */
  private[graft] def postingsServePath(dir: String): String =
    new java.io.File(Similarity.servePath("postings_serve_", dir)).getAbsolutePath

  /** The artifacts of a posting-index generation, all derived from one
    * corpus state and committed by ONE sidecar stamp:
    *
    *   - `postings` — (doc_id, h) distinct shingle hashes per document,
    *     bucketed and sorted on `h`: the doc-level index the hot-cap df
    *     counts run over, bucket-local.
    *   - `members` — (doc_id, cdoc): every document's text class under
    *     its STORED key, the min doc_id of the class when the class was
    *     first indexed. Stable under append (documents are only ever
    *     added), but NOT guaranteed to stay the class minimum (a later
    *     delta may carry a smaller id).
    *   - `rep` — the postings of ONE representative document per
    *     distinct text, same schema and bucketing: the candidate
    *     self-join runs over THIS table, so its cost scales with distinct
    *     texts, not documents (a k-copy clique costs 1 posting set here,
    *     and its k² pairs are recovered by a member-map expansion).
    *   - `cls` — (cdoc, class_id, csize): one row per distinct text with
    *     the class's TRUE id (min member doc_id) and member count,
    *     pre-materialized so query plans skip the doc-level groupBy and
    *     the planner sees parquet stats (class-cardinality → static
    *     broadcast) instead of an unknown-size aggregate.
    *   - `docclass` — (doc_id, class_id): the member map joined to the
    *     true class id. Every collapse serve starts from it; derived per
    *     query as members ⋈ cls, its join-output size estimate could
    *     never broadcast and planned the expansion joins as
    *     SortMergeJoins — as a bare scan the planner sees real stats.
    *   - `docstats` — (doc_id, split, n_shingles): what lets a
    *     posting-served decontamination screen
    *     ([[Curation.contaminationDeltaServe]]) skip the corpus text scan
    *     at query time.
    *
    * The bucketed tables register per generation
    * ([[ServingStore.Generation.table]]). */
  private def postingArtifacts(dir: String, numBuckets: Int): Seq[ServingStore.Artifact] = {
    def bucketed(sub: String, table: String) = ServingStore.Artifact(sub,
      Some(ServingStore.Bucketing(ServingStore.tableBase(table, dir), "h", numBuckets)))
    Seq(bucketed("postings", "postings"), ServingStore.Artifact("members"),
      bucketed("rep", "postings_rep"), ServingStore.Artifact("cls"),
      ServingStore.Artifact("docclass"), ServingStore.Artifact("docstats"))
  }

  /** One kernel scan per document: (doc_id, split, hs) with the distinct
    * shingle-hash set, checkpointed so the postings, the rep postings
    * and the doc stats all derive from it. The split and set
    * expressions are [[Curation.contaminationOf]]'s, so served screens
    * match the batch computation by construction. */
  private def docShingles(docs: DataFrame): DataFrame =
    shingleSets(docs, TextAnalysis.splitCol(TextAnalysis.splitKeyCol).as("split"))

  private def postingsOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("hs")).as("h"))

  private def docStatsOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("split"), size(col("hs")).as("n_shingles"))

  /** Recompute the class artifacts from a generation's member map —
    * shared by the build and the append (true class ids can change
    * under a delta that undercuts a stored key, and csize grows;
    * O(distinct texts) + O(docs) output). */
  private def writeClasses(spark: SparkSession, gen: ServingStore.Generation): Unit = {
    val members = spark.read.parquet(gen.path("members"))
    members
      .groupBy(col("cdoc"))
      .agg(min(col("doc_id")).as("class_id"), count(lit(1)).as("csize"))
      .write.parquet(gen.path("cls"))
    members
      .join(spark.read.parquet(gen.path("cls")).select(col("cdoc"), col("class_id")), "cdoc")
      .select(col("doc_id"), col("class_id"))
      .write.parquet(gen.path("docclass"))
  }

  /** Ensure a FRESH posting-index generation exists for `dir` and is
    * registered in the session catalog ([[ServingStore.ensureGeneration]]).
    * Keyed by the corpus files' fingerprint (names, lengths, content
    * stamps — a driver-side listing, no data scan): any corpus swap
    * under the same dir rebuilds, and a fresh generation written by an
    * EARLIER session is re-registered over its existing files (bucket
    * ids live in the file names, so the catalog entry restores the
    * bucket spec without rewriting a byte). The shingle-kernel scan and
    * the posting shuffle are thereby paid once per corpus generation
    * instead of on every dedup run. */
  private[graft] def postingsGeneration(spark: SparkSession, dir: String,
      numBuckets: Int = PostingsBuckets): ServingStore.Generation = {
    val fp = Similarity.corpusFingerprint(spark, dir, "documents.parquet")
    ServingStore.ensureGeneration(spark, "posting-index", postingsServePath(dir), fp,
        postingArtifacts(dir, numBuckets)) { gen =>
      val docs = Tables.documents(spark, dir)
      val sets = docShingles(docs)
      ServingStore.writeBucketed(postingsOf(sets), gen, "postings")
      // distinct-text collapse, computed ONCE at index time: the class
      // key is the min doc_id per text at build time
      import org.apache.spark.sql.expressions.Window
      docs.select(col("doc_id"),
          min(col("doc_id")).over(Window.partitionBy(col("text"))).as("cdoc"))
        .write.parquet(gen.path("members"))
      val repIds = spark.read.parquet(gen.path("members"))
        .filter(col("doc_id") === col("cdoc")).select(col("doc_id"))
      ServingStore.writeBucketed(postingsOf(sets.join(repIds, "doc_id")), gen, "rep")
      writeClasses(spark, gen)
      docStatsOf(sets).write.parquet(gen.path("docstats"))
    }(identity)
  }

  /** [[postingsGeneration]]'s doc-level posting table name. */
  private[graft] def ensurePostings(spark: SparkSession, dir: String,
      numBuckets: Int = PostingsBuckets): String =
    postingsGeneration(spark, dir, numBuckets).table("postings")

  /** Incrementally maintain the posting index after an ingest: a new
    * generation that hard-links the committed postings, member map, rep
    * postings and doc stats and adds ONLY the new documents' files, then
    * stamps the corpus' post-append fingerprint so the next
    * [[ensurePostings]] serves it instead of rebuilding from scratch.
    *
    * This is the batch analogue of a scheduled daily ingest (reference:
    * dags/raw/ingest_kaggle_data.py appends each day's rows and the
    * downstream models refresh incrementally): at 100 TB a full posting
    * rebuild re-scans and re-shuffles the entire corpus to index a
    * day's delta, while the append scans only the delta and writes new
    * bucket files next to the linked ones (bucket ids live in file
    * names, so the bucket spec — and the exchange-free candidate join —
    * survives; per-file sort holds and Spark re-sorts bucket-locally
    * where a downstream plan needs it).
    *
    * Call AFTER the new document files land in `dir`, passing exactly
    * the newly-landed docs. Contract: `newDocs` holds doc_ids not yet
    * indexed — re-appending an indexed doc would double its postings
    * (the same contract an append-only ingest log already guarantees).
    * Pass `expectedFp` (the corpus fingerprint captured BEFORE the delta
    * landed) to prove the generation matches the pre-append corpus: an
    * index gone stale through out-of-band corpus edits must take the
    * full-rebuild path, not absorb a delta and get re-stamped fresh.
    * Hot-shingle capping is unaffected: dfs aggregate at query time over
    * the full posting table, so a shingle crossing [[HotShingleCap]]
    * because of appended docs is dropped exactly as in a fresh build. */
  def appendPostings(spark: SparkSession, dir: String, newDocs: DataFrame,
      numBuckets: Int = PostingsBuckets,
      expectedFp: Option[Long] = None): String =
    ServingStore.deriveGeneration(spark, "posting-index", postingsServePath(dir),
        postingArtifacts(dir, numBuckets),
        carry = Seq("postings", "members", "rep", "docstats"))(
      ServingStore.landed("posting-index", postingsServePath(dir), expectedFp,
        () => Similarity.corpusFingerprint(spark, dir, "documents.parquet"))) { (prev, next) =>
      val sets = docShingles(newDocs)
      ServingStore.writeBucketed(postingsOf(sets), next, "postings")
      // collapse maintenance: assign each delta doc to its text class —
      // an EXISTING class when the text matches a committed rep's text
      // (exact string join, no hashes), a NEW class keyed by the delta
      // group's min doc_id otherwise. Rep-ness is append-stable: docs
      // are only ever added, so an existing class's stored key never
      // moves, and only new-class reps contribute rep postings.
      val repTexts = Tables.documents(spark, dir)
        .join(spark.read.parquet(prev.path("members"))
          .filter(col("doc_id") === col("cdoc")).select(col("cdoc")),
          col("doc_id") === col("cdoc"))
        .select(col("cdoc"), col("text"))
      val matched = newDocs.select(col("doc_id"), col("text"))
        .join(repTexts, "text").select(col("doc_id"), col("cdoc"))
      val unmatched = newDocs
        .join(repTexts.select(col("text")), Seq("text"), "left_anti")
        .withColumn("cdoc", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("text"))))
      matched.unionAll(unmatched.select(col("doc_id"), col("cdoc")))
        .write.mode("append").parquet(next.path("members"))
      val newReps = unmatched.filter(col("doc_id") === col("cdoc")).select(col("doc_id"))
      ServingStore.writeBucketed(postingsOf(sets.join(newReps, "doc_id")), next, "rep")
      writeClasses(spark, next)
      docStatsOf(sets).write.mode("append").parquet(next.path("docstats"))
    }.table("postings")

  /** The collapse-served candidate machinery shared by
    * [[ngramJaccardServe]] and [[dedupResolveServe]]:
    *
    *   - `docClass` — (doc_id, class_id): every document mapped to its
    *     text class's TRUE id (the class's min doc_id, recomputed from
    *     the member map because stored keys can lag an append);
    *   - `repJaccard` — (ca, cb, shared, jaccard): thresholded exact
    *     Jaccard over class REPRESENTATIVES (cross-class pairs only);
    *   - `selfCls` — (class_id, n_shingles): classes holding >= 2 copies
    *     of a text that keeps >= 1 surviving (non-hot) shingle — the
    *     classes whose members pair with each other at jaccard 1.0.
    *
    * Exactness (the same argument as [[dedupResolveOracle]]'s collapse):
    * identical texts have identical shingle sets, so doc-level Jaccard
    * is class-invariant; the hot cap keeps counting doc-level df (the
    * FULL posting table feeds it, bucket-local); and every doc-level
    * pair is either a cross-class pair (recovered by expanding the rep
    * pair over both member lists) or a same-class pair (jaccard 1.0 with
    * shared = the class's surviving-set size). The candidate self-join —
    * the only superlinear step — runs over the rep table, so its
    * Σ df² cost scales with DISTINCT texts: on a k-copy corpus that is
    * k² cheaper than the doc-level join (sf10's 100-copy cliques took
    * the doc-level serve to 76 s; the expansion emits the same 23.5M
    * pairs from sf0.1-sized joins). A minhash-band blocker was
    * considered for this step and rejected: banding is probabilistic
    * (a J = 0.8 pair escapes 8x4 bands ~1.5% of the time) and this
    * operator's contract is exact. */
  private[graft] def collapsedNgramParts(spark: SparkSession, dir: String,
      threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val gen = postingsGeneration(spark, dir)
    // (cdoc, class_id, csize) and (doc_id, class_id) pre-materialized
    // at index time ([[postingArtifacts]]): the planner sees parquet
    // stats, so the class joins below broadcast statically instead of
    // risking aggregate- or join-derived SMJs
    val cls = spark.read.parquet(gen.path("cls"))
    val docClass = spark.read.parquet(gen.path("docclass"))
    // hot cap over the FULL doc-level table (df counts documents);
    // candidates over the rep table — both bucket-local on h
    val sh = spark.table(gen.table("rep"))
      .join(hotShingles(spark.table(gen.table("postings"))), Seq("h"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val rj = jaccardPairsFrom(sh, threshold) // cdoc-level (doc_a, doc_b, shared, jaccard)
    val repJaccard = rj
      .join(cls.select(col("cdoc").as("doc_a"), col("class_id").as("ca")), "doc_a")
      .join(cls.select(col("cdoc").as("doc_b"), col("class_id").as("cb")), "doc_b")
      .select(col("ca"), col("cb"), col("shared"), col("jaccard"))
    val selfCls = cls.filter(col("csize") >= 2)
      .join(sizes.withColumnRenamed("doc_id", "cdoc"), "cdoc")
      .select(col("class_id"), col("n_shingles"))
    (docClass, repJaccard, selfCls)
  }

  /** q_dedup_ngram SERVING path: exact n-gram Jaccard over the PERSISTED
    * collapse layout — the text scan, shingle kernel, posting shuffle
    * AND the distinct-text collapse are paid once at index time
    * ([[ensurePostings]]); the candidate join is bucket-local on `h`
    * over the rep table (distinct texts, not documents), and duplicate
    * cliques are recovered by member-map expansion. Results are
    * bit-identical to [[ngramJaccard]] (see [[collapsedNgramParts]] for
    * the exactness argument; CorpusSpec pins equality on plain and
    * duplicate-heavy corpora). */
  def ngramJaccardServe(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val (docClass, repJaccard, selfCls) = collapsedNgramParts(spark, dir, threshold)
    val cross = repJaccard
      .join(docClass.select(col("class_id").as("ca"), col("doc_id").as("da")), "ca")
      .join(docClass.select(col("class_id").as("cb"), col("doc_id").as("db")), "cb")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("shared"), col("jaccard"))
    // restrict members to qualifying classes BEFORE the k² self-join:
    // an all-hot k-copy clique (every shingle past the cap) has no
    // surviving shingles and must cost nothing, not k² discarded rows
    // (r17 review)
    val selfMembers = docClass.join(selfCls.select(col("class_id")), "class_id")
    // SHUFFLE_HASH, not sort-merge, for the equality pairing (r20 verdict
    // #1): a self-join's size estimate is the product of two identical
    // sides, so it can never broadcast by stats, and the static lane
    // profile (AQE off) planned it as an SMJ whose sort buys nothing —
    // both sides arrive co-partitioned on class_id from one reused
    // exchange, and the build side is one partition's slice of the
    // class-filtered member map (bounded by reduce parallelism that
    // tracks corpus size, so the hash build stays per-task-sized at any
    // scale).
    val selfPairs = selfMembers.as("x")
      .join(selfMembers.as("y").hint("shuffle_hash"),
        col("x.class_id") === col("y.class_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.class_id").as("class_id"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .join(selfCls, "class_id")
      .select(col("doc_a"), col("doc_b"),
        col("n_shingles").as("shared"), lit(1.0).as("jaccard"))
    cross.unionAll(selfPairs)
  }

  /** Compact a posting generation back to ONE file per bucket.
    *
    * Every [[appendPostings]] lays new bucket files next to the
    * existing ones; after a season of daily ingests each bucket-local
    * task opens O(appends) small files and re-sorts their union — the
    * classic LSM read-amplification, paid on every dedup run. Compaction
    * commits a new generation holding the SAME rows in one sorted file
    * per bucket (the repartition on `h` uses the same murmur3-pmod
    * placement as the bucket-id assignment, so each task holds exactly
    * one bucket), the other artifacts hard-linked, with the corpus
    * fingerprint unchanged — queries before and after are equal by
    * construction, and readers of the previous generation keep it. */
  def compactPostings(spark: SparkSession, dir: String,
      numBuckets: Int = PostingsBuckets): Unit = {
    postingsGeneration(spark, dir, numBuckets)
    ServingStore.deriveGeneration(spark, "posting-index", postingsServePath(dir),
        postingArtifacts(dir, numBuckets),
        carry = Seq("members", "cls", "docclass", "docstats"))(identity) { (prev, next) =>
      // Read the RAW files, not the catalog table — the bucketed
      // relation advertises HashPartitioning(h, n), which makes
      // EnsureRequirements elide this exact shuffle and hand the writer
      // the scan's size-based splits instead (several buckets per task
      // → several files per bucket, the fragmentation being undone)
      Seq("postings", "rep").foreach { sub =>
        ServingStore.writeBucketed(
          spark.read.parquet(prev.path(sub)).repartition(numBuckets, col("h")), next, sub)
      }
    }
    ()
  }

  private[graft] def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.delete)
    }
  }

  // ------------------------------------------------ exact-substring dup

  /** q_dup_spans — exact-substring duplication signal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: duplicated SPANS matter even when documents as a
    * whole are unique). Per document: every [[ShingleN]]-token gram at
    * every position (with multiplicity — unlike [[shingleSets]], which
    * is per-doc distinct), flagged when the gram occurs in MORE THAN ONE
    * document; `dup_fraction` = flagged positions / all positions. The
    * doc-level companions: [[Curation.repetitionStats]] sees WITHIN-doc
    * repetition, [[ngramJaccard]] sees whole-doc similarity — this sees
    * cross-doc boilerplate/quotation spans that neither flags.
    *
    * Scale shape: ONE scan reduces each doc to its distinct (gram
    * hash, multiplicity) pairs in the projection
    * ([[graft.functions.GramCountsKernel]], lazily checkpointed — the
    * pairs feed the df pass and the per-doc rollup); document frequency
    * is then a plain single-phase COUNT over pre-deduplicated rows (the
    * position-explode form paid countDistinct's two-phase over one row
    * per gram position); the df attach is a hash join that AQE
    * broadcasts while the shared-gram table is small, and the rollup
    * recovers position tallies exactly as Σ multiplicity. All counters
    * integer, the fraction is one division — bit-deterministic under
    * partitioning. Hash-collision caveat as in [[shingleSets]]: the
    * oracle counts raw gram strings, so a collision fails hash parity
    * loudly.
    *
    * PRECONDITION: `doc_id` must be unique per row (true of the
    * `documents` table and every graft corpus frame). The single-phase
    * df count relies on it — the kernel emits per-DOC-distinct pairs,
    * so duplicate doc_id rows would inflate `nd` and could flip the
    * nd > 1 shared-gram cut where the old countDistinct(doc_id) form
    * would not (r11 ADVICE). */
  def dupSpans(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // per-doc DISTINCT (gram hash, multiplicity) pairs are born in the
    // scan ([[graft.functions.GramCountsKernel]]) — the exchanges below
    // carry one row per distinct gram per doc, not one per position, and
    // the checkpoint lets the df pass and the rollup share the one scan
    val pairs = docs
      .select(col("doc_id"), call_function(
        graft.functions.GraftFunctions.GramCountsName,
        col("text"), lit(ShingleN)).as("gc"))
      .filter(col("gc").isNotNull)
      .select(col("doc_id"), explode(col("gc")).as("g"))
      .select(col("doc_id"), col("g.h").as("h"), col("g.c").as("c"))
      .localCheckpoint(eager = false)
    // rows are already distinct per doc, so document frequency is a
    // plain single-phase COUNT (the explode form paid countDistinct's
    // two-phase over full-multiplicity position rows). Only grams
    // SHARED across documents matter downstream — filter to nd > 1
    // before the attach, so the join side is the (small) shared-gram
    // set, not the (corpus-sized) vocabulary; AQE broadcasts it on any
    // real corpus and the attach stays map-side.
    val shared = pairs
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"), lit(1L).as("is_dup"))
    // position tallies recover exactly: n_grams = Σc, dup positions =
    // Σc over shared grams — same longs, same one double division
    pairs
      .join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("is_dup").isNotNull, col("c")).otherwise(0L)).as("n_dup_grams"),
        (sum(when(col("is_dup").isNotNull, col("c")).otherwise(0L)).cast(DoubleType) /
          sum(col("c")).cast(DoubleType)).as("dup_fraction"))
  }

  /** The r10 position-explode formulation of [[dupSpans]] — kept as the
    * kernel form's spec reference (GraftProps asserts equality on
    * arbitrary corpora; the DuckDB oracle gates the real one). */
  private[graft] def dupSpansExplode(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("w"))
      .filter(size(col("w")) >= ShingleN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${ShingleN - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i, $ShingleN))))")).as("h"))
      .localCheckpoint(eager = false)
    val shared = grams
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"), lit(1L).as("is_dup"))
    grams
      .join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_grams"),
        (sum(coalesce(col("is_dup"), lit(0L))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("dup_fraction"))
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(spark, dir))

  /** q_dedup_excise — the APPLY side of exact-substring dedup
    * (Lee et al. 2022, arXiv:2107.06499 §3: duplicated spans are
    * REMOVED from the corpus, not just measured): every token position
    * covered by a cross-document [[ShingleN]]-gram is excised, and the
    * document is re-emitted from its surviving tokens.
    * [[dupSpans]] is the measurement twin; this produces the cleaned
    * corpus a training run would actually consume.
    *
    * Scale shape: the gram stream and shared-gram filter are
    * [[dupSpans]]'s (df filtered to nd > 1 BEFORE any attach, so the
    * join side is the small shared set). The flagged gram STARTS then
    * aggregate per doc into one (usually sparse) array, attach to the
    * documents scan by a doc-keyed join, and excision is ONE codegen
    * kernel call per doc ([[graft.functions.ExciseKernel]]): a
    * two-pointer walk over the ascending token positions and window
    * starts decides every token and rejoins survivors with a single
    * space in O(tokens + starts) — no token-stream explode, no
    * per-position rows, no interpreted per-token lambda (whitespace
    * normalizes — the tokenization is already run-collapsing). The
    * hash oracle gates the rebuilt STRINGS, so a tokenizer or coverage
    * drift fails parity loudly. */
  def dedupExcise(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("w"))
      .filter(size(col("w")) >= ShingleN)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${ShingleN - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i, $ShingleN))))")))
      .select(col("doc_id"), (col("pos") + 1).as("g"), col("col").as("h"))
      .localCheckpoint(eager = false)
    val shared = grams
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    val flagged = grams
      .join(shared, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("starts"))
    docs
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).as("w"),
        coalesce(col("starts"), array().cast(ArrayType(IntegerType))).as("starts"))
      // the whole excision — coverage merge, per-token membership test,
      // survivor rejoin — is ONE codegen kernel call
      // ([[graft.functions.ExciseKernel]]): token positions and window
      // starts are both ascending, so a two-pointer walk decides every
      // token in O(tokens + starts). The r10 form (graft_coverage
      // intervals + an interpreted filter/exists HOF) was
      // O(tokens × intervals) per doc — quadratic on an adversarial
      // alternating-duplication corpus, and interpreted per token.
      .withColumn("ex", call_function(
        graft.functions.GraftFunctions.ExciseName,
        col("w"), col("starts"), lit(ShingleN)))
      .select(
        col("doc_id"),
        size(col("w")).cast(LongType).as("n_tokens"),
        col("ex.n_kept").cast(LongType).as("n_kept"),
        col("ex.clean_text").as("clean_text"))
  }

  def dedupExcise(spark: SparkSession, dir: String): DataFrame =
    dedupExcise(Tables.documents(spark, dir))

  val dedupExciseOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, g, ARRAY_TO_STRING(ws[g:g+${ShingleN - 1}], ' ') AS gram
       |  FROM tok, LATERAL (SELECT UNNEST(RANGE(1, LEN(ws) - ${ShingleN - 2})) AS g) r
       |  WHERE LEN(ws) >= $ShingleN
       |), shared AS (
       |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
       |), flagged AS (
       |  SELECT doc_id, g FROM grams JOIN shared USING (gram)
       |), positions AS (
       |  SELECT t.doc_id, LEN(t.ws) AS n_tokens, p.p, t.ws[p.p] AS w,
       |    EXISTS (SELECT 1 FROM flagged f
       |      WHERE f.doc_id = t.doc_id
       |        AND p.p >= f.g AND p.p <= f.g + ${ShingleN - 1}) AS dup
       |  FROM tok t, LATERAL (SELECT UNNEST(RANGE(1, LEN(t.ws) + 1)) AS p) p
       |)
       |SELECT doc_id,
       |  CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       |  COALESCE(STRING_AGG(CASE WHEN dup THEN NULL ELSE w END, ' ' ORDER BY p), '')
       |    AS clean_text
       |FROM positions
       |GROUP BY doc_id""".stripMargin

  val dupSpansOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, ARRAY_TO_STRING(ws[g:g+${ShingleN - 1}], ' ') AS gram
       |  FROM tok, LATERAL (SELECT UNNEST(RANGE(1, LEN(ws) - ${ShingleN - 2})) AS g) r
       |  WHERE LEN(ws) >= $ShingleN
       |), dfq AS (
       |  SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY 1
       |)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
       |FROM grams JOIN dfq USING (gram)
       |GROUP BY doc_id""".stripMargin

  val ngramJaccardOracle: String =
    s"""WITH words AS (
       |  SELECT doc_id, STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'), ' ') AS w
       |  FROM documents
       |), sh0 AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - ${ShingleN - 1}),
       |        i -> ARRAY_TO_STRING(w[i:i+${ShingleN - 1}], ' '))) AS shingle
       |    FROM words WHERE LEN(w) >= $ShingleN
       |  )
       |), sh AS (
       |  SELECT doc_id, shingle FROM sh0
       |  WHERE shingle NOT IN (
       |    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > $HotShingleCap)
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, shared,
       |  CAST(shared AS DOUBLE) / CAST(x.n_shingles + y.n_shingles - shared AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes x ON doc_a = x.doc_id
       |JOIN sizes y ON doc_b = y.doc_id
       |WHERE CAST(shared AS DOUBLE) / CAST(x.n_shingles + y.n_shingles - shared AS DOUBLE) >= 0.8""".stripMargin

  // ---------------------------------------------------------------- MinHash

  val MinHashK: Int = graft.functions.MinHashKernel.K
  val Bands = 8
  val RowsPerBand: Int = MinHashK / Bands
  private val Mersenne31 = (1L << 31) - 1

  /** Per-document MinHash signature: sig_j = min over shingles of
    * ((a_j * (xxhash64(shingle) mod 2^31-1) + b_j) mod 2^31-1), computed
    * by the per-row native kernel ([[graft.functions.MinHashSigs]]) —
    * a pure scan projection with NO shuffle (the r1 explode + distinct +
    * 32-min-aggregate formulation shuffled the exploded shingle stream
    * twice; GraftProps asserts the two forms agree). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select(col("doc_id"),
        call_function(graft.functions.GraftFunctions.MinHashName, col("text")).as("sigs"))
      .filter(col("sigs").isNotNull)
      .select(col("doc_id") +:
        (0 until MinHashK).map(j => col("sigs").getItem(j).as(s"sig_$j")): _*)
  }

  /** The r1 aggregate formulation, kept as the independent reference
    * implementation the kernel is spec-checked against. */
  private[graft] def minhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val sh = shingleHashesAgg(docs)
      .withColumn("h31", pmod(col("h"), lit(Mersenne31)))
    val aggs = graft.functions.MinHashKernel.coeffs.toSeq.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("h31") * lit(a) + lit(b), lit(Mersenne31))).as(s"sig_$j")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Band buckets holding more rows than this lose their all-pairs
    * expansion — the quadratic-candidate valve every banding family
    * carries ([[SimHashChunkCap]], [[HotShingleCap]],
    * [[Similarity.SemCellCap]], [[Multimodal.FrameHashCap]]): a
    * degenerate bucket (boilerplate signatures, embedding-collapse zero
    * vectors) would otherwise emit O(B^2) pairs at its band and kill the
    * job at corpus scale. Over-cap buckets contribute a representative
    * STAR (bucket-min id x each member, O(B)) instead of being dropped
    * (r13 advice: an empty candidate set from a giant exact-duplicate
    * cluster silently keeps every copy downstream); the cap'd expansion
    * loss is also observed via the hot-drops metric. Override:
    * GRAFT_BAND_BUCKET_CAP (skew gate only — see [[envCap]]). */
  val BandBucketCap: Int = envCap("GRAFT_BAND_BUCKET_CAP", 500)

  /** Exactly-once banded pair candidates over any (id, bks) frame —
    * the shared core of [[minhashDedup]] and
    * [[Similarity.embeddingDedup]]'s LSH blocking: posexplode the
    * per-row bucket array, self-join on (band, bucket), and emit each
    * pair ONCE at its first shared SURVIVING band via an unrolled
    * codegen predicate (no pair-stream distinct; the higher-order
    * exists/zip_with form of the predicate is interpreted per candidate
    * row and measurably slower than the distinct it replaces).
    *
    * Hot buckets above `bucketCap` lose their all-pairs expansion
    * (observed via the `band_hot_drops_` counter) but keep a
    * representative star (see [[BandBucketCap]]), with the
    * [[chunkedHammingPairs]] survival-mask discipline: a shared band
    * has the SAME bucket on both sides, so survival is a shared
    * property of the pair, "first shared surviving band" is
    * well-defined from one side's mask alone, and a pair whose earliest
    * shared band was hot is still emitted at its first surviving one —
    * never silently lost to the cap. Pairs with NO surviving shared
    * band surface through the star path exactly when one side is the
    * bucket representative.
    *
    * DISCLOSED EAGERNESS: constructing the frame runs ONE bounded job
    * (the census probe that picks the branch), so plan-only callers —
    * explain(), the exchange audit — pay the signature scan + census
    * where the pre-valve code was lazy end to end. The serve paths
    * always execute the frame they build, so per-query cost is
    * unchanged; a caller that genuinely needs a lazy frame passes
    * bucketCap = Int.MaxValue (the probe is skipped — no bucket can
    * exceed it — and the plan is the uncapped one, fully lazy).
    *
    * Disclosed trade (ADVICE r9): both sides carry their FULL bks
    * array (nBands x 8 bytes per row) through the (band, bucket)
    * exchange so the first-shared-band predicate can evaluate at the
    * join — wider shuffle rows in exchange for deleting the pair-stream
    * distinct exchange. If shuffle width ever dominates at large SF,
    * the compact alternative is joining with only a per-side
    * band-PREFIX hash (hash of bks[0..band)) and comparing prefix
    * hashes instead of the arrays — same exactly-once emission, 8 bytes
    * per side — at the cost of a (vanishingly unlikely) prefix-hash
    * collision dropping a pair's first emission. */
  private[graft] def firstSharedBandPairs(ids: DataFrame, nBands: Int,
      bucketCap: Int = BandBucketCap): DataFrame = {
    require(nBands <= 63, s"survival mask is a long: nBands $nBands > 63")
    val banded0 = ids
      .select(col("id"), col("bks"), posexplode(col("bks")))
      .toDF("id", "bks", "band", "bucket")
      .localCheckpoint(eager = false)
    val hot = banded0.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > bucketCap)
      .select(col("band"), col("bucket"), col("df"))
      .observe(s"band_hot_drops_${obsId.incrementAndGet()}",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_band_rows"))
      .select(col("band"), col("bucket"))
    // The valve engages lazily: one bounded probe over the (partial-
    // aggregated, bucket-cardinality) census decides whether any bucket
    // is hot. On every sane corpus none is, and the zero-overhead
    // original plan runs — no anti-join, no id-regroup, no extra
    // exchanges; the probe itself materializes the lazily-checkpointed
    // banded stream the main plan reuses, so the scan is still paid
    // once. Only a corpus that actually holds a degenerate bucket pays
    // the survival-mask stages — exactly when they are worth paying.
    // Output is identical on both branches (an all-ones mask reduces
    // the predicate to the uncapped form), so the runtime branch is a
    // plan choice, not a semantic one — spec-asserted both ways.
    // Int.MaxValue skips the probe entirely (no bucket can exceed it):
    // the documented lazy escape hatch for plan-only callers.
    if (bucketCap == Int.MaxValue || hot.isEmpty) {
      val firstShared = (0 until nBands).map { bp =>
        when(lit(bp) < col("band"),
          element_at(col("bks"), bp + 1) =!= element_at(col("bks_b"), bp + 1))
          .otherwise(lit(true))
      }.reduce(_ && _)
      return banded0
        .join(banded0.select(col("id").as("id_b"), col("bks").as("bks_b"),
          col("band"), col("bucket")), Seq("band", "bucket"))
        .filter(col("id") < col("id_b"))
        .filter(firstShared)
        .select(col("id").as("id_a"), col("id_b"))
    }
    // total over band indexes by construction: band comes from
    // posexplode over the same nBands-long array the mask covers
    val bitOf = (1 until nBands).foldLeft(when(col("band") === 0, 1L)) {
      (acc, b) => acc.when(col("band") === b, 1L << b)
    }
    // mask bit b set <=> this id's band-b bucket is NOT hot. Fully-hot
    // ids (every band over cap — the 1200-identical-docs shape) keep a
    // row with mask 0 so the star path below can still see them; the
    // old left_anti dropped them from the frame entirely.
    val withMask = banded0
      .join(hot.withColumn("is_hot", lit(true)), Seq("band", "bucket"), "left_outer")
      .groupBy(col("id"))
      .agg(first(col("bks")).as("bks"),
        coalesce(sum(when(col("is_hot").isNull, bitOf)), lit(0L)).as("mask"))
      // lineage barrier trade-offs (r14 verdict #5): id-predicate
      // pushdown ends here (fine — band blocking is a full-corpus
      // pass by construction), and the blocks pin executor storage
      // until the frame is GC'd (skinny: id + K-int signature + one
      // long mask; bounded across a suite pass, BarrierStorageSpec).
      .localCheckpoint(eager = false)
    val restream = withMask
      .select(col("id"), col("bks"), col("mask"), posexplode(col("bks")))
      .toDF("id", "bks", "mask", "band", "bucket")
      .filter(col("mask").bitwiseAND(bitOf) =!= 0L)
      .localCheckpoint(eager = false)
    val firstShared = (0 until nBands).map { bp =>
      when(lit(bp) < col("band"),
        !((element_at(col("bks"), bp + 1) === element_at(col("bks_b"), bp + 1)) &&
          (col("mask").bitwiseAND(lit(1L << bp)) =!= 0L)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val survivorPairs = restream
      .join(restream.select(col("id").as("id_b"), col("bks").as("bks_b"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("id") < col("id_b"))
      .filter(firstShared)
      .select(col("id").as("id_a"), col("id_b"))
    // Over-cap buckets are NOT silently dropped (r13 advice): giant
    // exact-duplicate clusters are precisely dedup's highest-value
    // targets, and a keep-one-copy resolution downstream of an empty
    // candidate set silently keeps every copy. Each hot bucket instead
    // contributes a representative STAR — its min id paired to every
    // other member, O(B) pairs not O(B^2) — which preserves the
    // bucket's connectivity for component resolution while keeping the
    // valve's quadratic bound. Exactly-once across the union: a star
    // pair is emitted only when it shares NO surviving band (those
    // pairs are the survivor path's, by first-shared-surviving-band);
    // cross-band star duplicates are removed by a distinct over the
    // star stream, which is LINEAR in corpus size (<= one pair per
    // member per band), so the exchange the main path avoids is
    // harmless here.
    val hotStream = withMask
      .select(col("id"), col("bks"), col("mask"), posexplode(col("bks")))
      .toDF("id", "bks", "mask", "band", "bucket")
      .filter(col("mask").bitwiseAND(bitOf) === 0L)
    val reps = hotStream.groupBy(col("band"), col("bucket"))
      .agg(min(struct(col("id"), col("bks"))).as("rep"))
      .select(col("band"), col("bucket"),
        col("rep").getField("id").as("rep_id"),
        col("rep").getField("bks").as("rep_bks"))
    // buckets equal at band bp => hotness equal at bp (hotness is a
    // property of the shared (band, bucket)), so the member's mask
    // decides survival for the PAIR at every shared band
    val noSurvivingShared = (0 until nBands).map { bp =>
      !((element_at(col("bks"), bp + 1) === element_at(col("rep_bks"), bp + 1)) &&
        (col("mask").bitwiseAND(lit(1L << bp)) =!= 0L))
    }.reduce(_ && _)
    val starPairs = hotStream
      .join(reps, Seq("band", "bucket"))
      .filter(col("id") =!= col("rep_id"))
      .filter(noSurvivingShared)
      .select(col("rep_id").as("id_a"), col("id").as("id_b"))
      .distinct()
    survivorPairs.unionByName(starPairs)
  }

  /** q_dedup_minhash — LSH banding: docs sharing any band bucket become
    * candidates; estimated Jaccard = fraction of equal signature slots.
    *
    * CONTRACT ASYMMETRY vs the serve path (r18 advice): this inline
    * form keeps the doc-level band census (hot buckets degrade to the
    * representative star), while the dir serve runs the lossless
    * distinct-signature collapse — equal output wherever no
    * [[BandBucketCap]] engages (spec-pinned), a strict SUPERSET from
    * the serve on replication past the cap (serve ⊇ inline; direction
    * spec-asserted at the mechanism level in CorpusSpec). */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    // the signature frame feeds the banding AND both verifier sides —
    // truncate lineage so the per-row signature kernel runs once
    minhashDedupFromSigs(
      minhashSignatures(docs).localCheckpoint(eager = false), threshold)

  /** Banding + estimate-verify over any (doc_id, sig_0..sig_k-1)
    * signature frame — the serve phase behind both forms. */
  private[graft] def minhashDedupFromSigs(sigs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val slot = (0 until RowsPerBand).map(r => col(s"sig_${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(slot: _*).as("bucket"))
    }
    val candidates = firstSharedBandPairs(
      sigs.select(col("doc_id").as("id"),
        array(bandCols.map(bc => bc.getField("bucket")): _*).as("bks")),
      Bands)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until MinHashK).map(j => col(s"sig_$j").as(s"a_$j")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until MinHashK).map(j => col(s"sig_$j").as(s"b_$j")): _*)
    val eqSum = (0 until MinHashK)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0))
      .reduce(_ + _)
    candidates
      .join(sigA, "doc_a")
      .join(sigB, "doc_b")
      .withColumn("est_jaccard", eqSum.cast(DoubleType) / lit(MinHashK.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** DISTINCT-SIGNATURE collapse for the minhash family (r18, the
    * [[collapsedHammingPairs]] move with the signature VECTOR as the
    * class key): banding, bucket hotness, and the estimate-verify all
    * depend on a row only through its 32-slot signature, so rows with
    * equal signatures are interchangeable — the banded candidate
    * self-join (the step that degraded toward in-clique quadratic on
    * sf10's 100-copy cliques, r17 verdict's one weak row) runs over ONE
    * representative per distinct signature; cross-class pairs expand
    * each rep pair over both member lists (est_jaccard is
    * signature-determined), and same-class pairs are est 1.0 (all 32
    * slots equal) >= any threshold <= 1.
    *
    * Exactness: bit-equal to [[minhashDedupFromSigs]] whenever the
    * doc-level band census engages no [[BandBucketCap]] (all shipped
    * SFs and the spec corpora). Where the doc-level cap WOULD engage,
    * the collapse emits a SUPERSET: rep-level buckets count distinct
    * signatures (rep-hot ⊆ doc-hot), duplicate cliques bypass banding
    * entirely, and the star-valve under-emission the r17 verdict
    * flagged (observed pair drops at sf10) is replaced by the lossless
    * expansion — the cap keeps bounding what it exists to bound, the
    * candidate join's quadratic cost over DISTINCT signatures. */
  private[graft] def minhashDedupCollapsed(sigs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigCols = (0 until MinHashK).map(j => col(s"sig_$j"))
    // served generations carry the class key PERSISTED ([[withSigClass]],
    // r18 verdict #5) — no per-query class shuffle; ad-hoc frames pay
    // one shuffle of the (doc_id, 32-int) sig table keyed on the full
    // signature vector (no hashed key: a 64-bit class-key collision
    // would silently merge two DIFFERENT signatures into one class and
    // fabricate est-1.0 pairs; the grouped key is exact). BOTH branches
    // checkpoint: m0 feeds members twice, the rep stream and the
    // dup-class census, and the bare known-small scan let the planner
    // broadcast each derivation separately — five broadcast-exchange
    // driver collects per serve, measured +0.37s at sf1 (r19; the
    // checkpoint restores the one-materialization plan the r18 window
    // form had, without its shuffle).
    val m0 =
      (if (sigs.columns.contains("class_id")) sigs
       else sigs
         .withColumn("class_id", min(col("doc_id")).over(Window.partitionBy(sigCols: _*))))
        .localCheckpoint(eager = false)
    val members = m0.select(col("doc_id"), col("class_id"))
    val repPairs = minhashDedupFromSigs(
      m0.filter(col("doc_id") === col("class_id"))
        .select(col("class_id").as("doc_id") +: sigCols: _*),
      threshold)
    val cross = repPairs
      .join(members.select(col("class_id").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(members.select(col("class_id").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("est_jaccard"))
    // self arm: members join themselves on class equality directly —
    // size-1 classes match nothing, so the former csize>=2 prefilter
    // (a groupBy shuffle + an extra join per serve) bought no output
    // reduction, only probe savings an O(1) hash probe already gives
    // (r19 verdict #7: the expansion stages owned the serve's constant;
    // the mh probe put ~80ms of the sf0.1 serve in this arm)
    val self = members.as("x")
      .join(members.as("y"),
        col("x.class_id") === col("y.class_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("est_jaccard"))
    cross.unionByName(self)
  }

  /** The signature-class key PERSISTED into a signature generation at
    * build time (r18 verdict #5: the collapse window-grouped per query,
    * one avoidable shuffle of the sig table per serve — with the key in
    * the generation the collapse is a pure scan). The key is min doc_id
    * per distinct signature; the collapse only needs MEMBERSHIP (a
    * class_id names a row of its own class, for rep selection) and
    * per-signature CONSISTENCY (equal signatures share one class_id) —
    * pair outputs normalize order themselves, so the choice of member
    * never reaches the output. */
  private[graft] def withSigClass(sigs: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sigs.withColumn("class_id",
      min(col("doc_id")).over(Window.partitionBy(keys.map(col): _*)))
  }

  /** Class assignment for APPENDED signature rows against the previous
    * generation: a delta signature that already has a class joins it
    * (per-signature all-or-none, so no split classes); a new signature
    * classes on the delta's own min doc_id. Membership + consistency
    * are preserved across any append sequence by induction — an
    * existing class_id names a row still in the store, a new one names
    * a delta row being merged. Cost rides the append's full-generation
    * rewrite (one shuffle join of delta vs distinct prev signatures —
    * data-proportional next to the rewrite itself). */
  private[graft] def classifyDeltaSigs(prev: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = prev
      .select((keys.map(col) :+ col("class_id")): _*).distinct()
      .withColumnRenamed("class_id", "prior_class")
    delta.join(classes, keys, "left")
      .withColumn("class_id",
        coalesce(col("prior_class"),
          min(col("doc_id")).over(Window.partitionBy(keys.map(col): _*))))
      .drop("prior_class")
  }

  private[graft] val MinhashSigKeys: Seq[String] =
    (0 until MinHashK).map(j => s"sig_$j")

  /** Dir-serving form: the per-doc minhash signatures persist as a
    * fingerprint-keyed generation — the last signature family without
    * one (simhash, IDF-simhash and the embedding LSH bands all persist
    * theirs). A signature is a pure per-document function of the
    * corpus, so the tokenization + shingle + 32-min kernel scan is paid
    * once per corpus generation; per query the banding and the
    * estimate-verify run over the DISTINCT-SIGNATURE collapse
    * ([[minhashDedupCollapsed]] — spec-pinned serve == inline,
    * duplicate-heavy corpus included); integer signatures round-trip
    * parquet exactly. The generation carries the persisted class key
    * ([[withSigClass]]), so the collapse never shuffles at serve time. */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    minhashDedupCollapsed(serveMinhashSigs(spark, dir))

  /** Serve-or-build the minhash signature generation — shared by the
    * dedup serve and the streaming ingest twin
    * ([[graft.streaming.SigSink]]). */
  private[graft] def serveMinhashSigs(spark: SparkSession, dir: String): DataFrame =
    ServingStore.ensure(spark, "minhash-sigs", Similarity.servePath("minhash_sigs_", dir),
        minhashSigsFingerprint(spark, dir)) { gen =>
      withSigClass(minhashSignatures(Tables.documents(spark, dir)), MinhashSigKeys)
        .write.mode("overwrite").parquet(gen)
    }

  /** Bumped on any change to minhash signature semantics (the kernel's
    * coefficient table, K, shingling) — the store key must see code
    * changes the file fingerprint cannot ([[Multimodal.HashStoreVersion]]
    * convention). v2: the generation carries the persisted class key
    * ([[withSigClass]]). */
  private[graft] val MinhashSigStoreVersion = 2

  /** The fingerprint the minhash signature generation is keyed by —
    * callers snapshot it BEFORE landing a delta. */
  def minhashSigsFingerprint(spark: SparkSession, dir: String): Long =
    Similarity.corpusFingerprint(spark, dir, "documents.parquet") * 31 +
      MinhashSigStoreVersion

  /** Bumped on any change to plain-simhash signature semantics.
    * v2: the generation carries the persisted class key. */
  private[graft] val SimhashSigStoreVersion = 2

  /** The fingerprint the simhash signature generation is keyed by. */
  def simhashSigsFingerprint(spark: SparkSession, dir: String): Long =
    Similarity.corpusFingerprint(spark, dir, "documents.parquet") * 31 +
      SimhashSigStoreVersion

  /** A signature store over the documents table as a per-row store:
    * `sigs` derives the signatures and `keys` class them against the
    * committed ones ([[classifyDeltaSigs]]). */
  private def docSigRows(spark: SparkSession, dir: String, what: String, prefix: String,
      sigs: DataFrame => DataFrame, keys: Seq[String], fp: => Long): ServingStore.RowStore =
    ServingStore.RowStore(spark, what, Similarity.servePath(prefix, dir), "doc_id", sigs,
      postFp = () => fp,
      corpus = () => Tables.documents(spark, dir),
      merge = (prev, d) => prev.unionByName(classifyDeltaSigs(prev, d, keys)))

  /** The minhash signature store's delta expressions: a signature is a
    * pure per-document function, so the delta's kernel scan alone
    * produces exactly the rows a full rebuild over old ∪ delta adds.
    * Shared by [[appendMinhashSigs]] and the stream fold
    * ([[graft.streaming.SigSink]]). */
  private[graft] def minhashSigRows(spark: SparkSession, dir: String): ServingStore.RowStore =
    docSigRows(spark, dir, "minhash-sigs", "minhash_sigs_", minhashSignatures,
      MinhashSigKeys, minhashSigsFingerprint(spark, dir))

  /** The plain simhash signature store's delta expressions — same
    * row-local argument as [[minhashSigRows]]. The IDF variant has NO
    * append on purpose: its signatures join corpus-global document
    * frequencies, so a delta shifts every weight and the append IS the
    * rebuild ([[ServingStore.append]]'s validity note). */
  private[graft] def simhashSigRows(spark: SparkSession, dir: String): ServingStore.RowStore =
    docSigRows(spark, dir, "simhash-sigs", "simhash_sigs_", simhashSignatures,
      Seq("simhash"), simhashSigsFingerprint(spark, dir))

  /** Incremental ingest for the minhash signature store — the
    * [[ServingStore.append]] protocol (lock, staleness proofs,
    * double-append refusal) over [[minhashSigRows]]. `newDocs` must
    * already have landed in `dir`. */
  def appendMinhashSigs(spark: SparkSession, dir: String, newDocs: DataFrame,
      expectedFp: Long): Unit =
    minhashSigRows(spark, dir).append(newDocs, expectedFp)

  /** Incremental ingest for the plain simhash signature store, over
    * [[simhashSigRows]]. */
  def appendSimhashSigs(spark: SparkSession, dir: String, newDocs: DataFrame,
      expectedFp: Long): Unit =
    simhashSigRows(spark, dir).append(newDocs, expectedFp)

  // ---------------------------------------------------------------- SimHash

  val SimHashBits = 64
  /** Pair threshold. NOTE: on low-entropy corpora (small shared
    * vocabulary — e.g. the synthetic harness docs) 64-bit SimHash
    * signatures cluster tightly and distance <= 3 admits many
    * non-duplicate pairs; production corpora with natural prose separate
    * far better, and tightening to <= 2 (or weighting words by IDF in
    * the bit sums) restores precision when they don't. */
  val HammingMax = 3
  val Chunks = 4
  /** Chunk buckets larger than this are dropped from candidate generation
    * (mirrors [[HotShingleCap]]): a degenerate 16-bit chunk value —
    * low-entropy or near-empty docs all hashing to simhash 0 — would
    * otherwise make its bucket quadratic in the pigeonhole join. The cap
    * bounds any bucket's pair fan-out to cap²; drops are recorded as a
    * named observation. A pair loses candidacy only if ALL of its shared
    * chunks are hot, so near-identical docs (sharing 4 chunks) survive
    * unless the whole corpus is degenerate. Override:
    * GRAFT_SIMHASH_CHUNK_CAP (skew gate only — see [[envCap]]). */
  val SimHashChunkCap: Int = envCap("GRAFT_SIMHASH_CHUNK_CAP", 500)

  /** Per-document 64-bit SimHash: per bit, the sign of the sum of ±1
    * contributions from each distinct word's hash. Computed by the
    * per-row native kernel ([[graft.functions.SimHash64]]) — a pure scan
    * projection with NO shuffle (the r1 formulation shuffled the exploded
    * word stream through a distinct and a 64-sum aggregate; re-deriving
    * signatures for the hot-bucket frequency pass now costs a scan, not a
    * shuffle). GraftProps asserts the two forms agree. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function(graft.functions.GraftFunctions.SimHashName, col("text")).as("simhash"))
  }

  /** The r1 aggregate formulation, kept as the independent reference
    * implementation the kernel is spec-checked against. */
  private[graft] def simhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        explode(TextAnalysis.wsTokens(col("text"))).as("word"))
      .select(col("doc_id"), xxhash64(col("word")).as("h"))
      .distinct()
    val bitSums = (0 until SimHashBits).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s_$i")
    }
    val packed = (0 until SimHashBits)
      .map(i => when(col(s"s_$i") > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << i))
      .reduce(_ + _)
    words
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** IDF-weighted SimHash signatures — the precision knob for low-entropy
    * corpora (see [[HammingMax]] note): each distinct word contributes
    * ±log(N/df) per bit instead of ±1, so corpus-wide boilerplate
    * (df ≈ N, weight ≈ 0) stops dominating the signature and content
    * words decide it. Unlike the unweighted kernel this needs corpus
    * document frequencies, so it is a DataFrame pipeline over ONE
    * tokenized materialization (per-doc distinct word-hash sets from the
    * scan kernel, lazily checkpointed): a df pass
    * (vocabulary-cardinality, map-side combined — at production scale
    * this table is a reusable corpus asset), a hash-keyed join against
    * the PRUNED vocabulary (1 < df <= N/2: singleton terms cannot be
    * shared by any pair, df > N/2 terms weigh < log 2 ≈ noise), and one
    * 64-sum aggregate per doc. Pruning before the join is what keeps the
    * vocabulary broadcastable; see the body comment. */
  def simhashIdfSignatures(docs: DataFrame): DataFrame = {
    // ONE tokenization materialization feeds everything: the lazy
    // checkpoint inside [[wordSets]] lets the df/weighting pass and the
    // signature pass share the single kernel scan.
    val sets = wordSets(docs)
    signaturesFromSets(sets, idfWeightsOf(sets))
  }

  /** Per-doc DISTINCT word-hash sets from the scan kernel (no distinct
    * shuffle of the exploded token stream — the same shape as
    * [[shingleSets]]), lazily checkpointed for multi-consumer reuse. */
  private[graft] def wordSets(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select(col("doc_id"),
        call_function(graft.functions.GraftFunctions.WordSetName, col("text")).as("hs"))
      .localCheckpoint(eager = false)
  }

  /** The pruned IDF weight table (h, w) over a [[wordSets]] frame —
    * shared by the inline signature pipeline and the persisted serving
    * generation ([[ensureIdfWeights]]).
    *
    * Vocabulary pruning BEFORE any signature join, both ends: df = 1
    * terms occur in exactly one document, so they cannot be shared by
    * any pair — for a pairing signature they only push singletons
    * apart, and dropping them caps the vocabulary (on real corpora the
    * df = 1 tail IS most of the vocabulary: typos, ids, hashes).
    * df > N/2 terms are boilerplate with weight < log 2 ≈ noise. The
    * pruned vocabulary is small enough to broadcast on any realistic
    * corpus. The corpus size enters the plan as a broadcast scalar, NOT
    * a driver-side count(): building this DataFrame stays lazy. */
  private[graft] def idfWeightsOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(sets.agg(countDistinct(col("doc_id")).as("n_docs"))))
      .filter(col("df") > 1 && col("df") * 2 <= col("n_docs"))
      // n_docs rides along (vocab-sized, one repeated long): the drift
      // valve ([[appendSimhashIdf]]) reads it back as the corpus size
      // the weights were trained on
      .select(col("h"),
        log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)).as("w"),
        col("n_docs"))

  /** Weighted 64-bit signatures from a sets frame and a (h, w) weight
    * table: one hash-keyed join + one 64-sum aggregate per doc. */
  private def signaturesFromSets(sets: DataFrame, weights: DataFrame): DataFrame = {
    val words = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val weighted = words.join(weights.select(col("h"), col("w")), Seq("h"))
    val bitSums = (0 until SimHashBits).map { i =>
      sum((shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .cast(DoubleType) * col("w")).as(s"s_$i")
    }
    val packed = (0 until SimHashBits)
      .map(i => when(col(s"s_$i") > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << i))
      .reduce(_ + _)
    weighted
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  private[graft] def idfWeightsServePath(dir: String): String =
    Similarity.servePath("simhash_idfw_", dir)

  /** q_dedup_simhash_idf — [[simhashDedup]] with IDF-weighted signatures:
    * same chunked pigeonhole join and hot-bucket cap, boilerplate-robust
    * signatures. Docs whose every word is boilerplate (all df > N/2) have
    * no signature and cannot pair — by design. */
  def simhashIdfDedup(docs: DataFrame): DataFrame =
    chunkedHammingPairs(simhashIdfSignatures(docs))

  /** Dir-serving form: signatures join a PERSISTED weight generation —
    * the model state of the IDF variant, keyed on the documents
    * fingerprint like the LM count tables. Serving reads the vocab-sized
    * parquet (its stats are KNOWN to the planner, so the signature join
    * broadcasts statically — this was the suite's one SortMergeJoin when
    * both join sides were aggregate-derived) and the per-query corpus df
    * pass amortizes across a corpus generation; spec-pinned row-equal to
    * the inline form. */
  /** Bumped on any change to IDF-simhash signature-GENERATION layout
    * (the weights store keeps the raw corpus fingerprint — weights
    * semantics are unchanged). v2: the generation carries the persisted
    * class key ([[withSigClass]]). */
  private[graft] val SimhashIdfSigStoreVersion = 2

  /** The fingerprint the IDF-simhash signature generation is keyed by —
    * [[appendSimhashIdf]] derives its stamps from the same formula. */
  private[graft] def simhashIdfSigsFingerprint(spark: SparkSession,
      dir: String): Long =
    Similarity.corpusFingerprint(spark, dir, "documents.parquet") * 31 +
      SimhashIdfSigStoreVersion

  def simhashIdfDedup(spark: SparkSession, dir: String): DataFrame = {
    val path = idfWeightsServePath(dir)
    val fp = Similarity.corpusFingerprint(spark, dir, "documents.parquet")
    // the per-doc SIGNATURES persist as their own generation (the media
    // hash-store discipline, r13): a signature is a pure per-document
    // function of the corpus + weights, so the tokenization scan, the
    // vocabulary join and the 64-sum aggregate are paid once per corpus
    // generation — per query only the pigeonhole pairing runs. The
    // weight generation stays a separate (inner) store: it is the
    // model state other surfaces cite, and a crash between the two
    // writes leaves the sigs sidecar stale -> sigs rebuild, weights
    // serve (never a fresh-looking half-built pair).
    val sigs = ServingStore.ensure(spark, "simhash-idf-sigs",
      Similarity.servePath("simhash_idf_sigs_", dir),
      fp * 31 + SimhashIdfSigStoreVersion) { gen =>
      // ONE tokenization checkpoint feeds both the weight build and the
      // signature pass, so the inline form's single-scan contract holds
      // on the cold path too
      val sets = wordSets(Tables.documents(spark, dir))
      val weights = ServingStore.ensure(spark, "simhash-idf-weights", path, fp) { wgen =>
        idfWeightsOf(sets).write.mode("overwrite").parquet(wgen)
      }
      withSigClass(signaturesFromSets(sets, weights), Seq("simhash"))
        .write.mode("overwrite").parquet(gen)
    }
    // exact-parity distinct-signature collapse (r18): bit-equal to the
    // inline form at every corpus — see [[collapsedHammingPairsExact]]
    collapsedHammingPairsExact(sigs)
  }

  /** Staleness bound for the IDF drift valve: the served weight
    * generation may lag the corpus by at most this growth fraction,
    * in EITHER direction (a delta that nets out to deletions shifts
    * df/N just as a growth does, so the valve bounds |growth|).
    * The corpus-size term of the drift is analytically bounded:
    * |log(N'/N)| ≤ log(1+g) ≈ 0.095 at g = 0.10. The df term is NOT —
    * a rare term the delta saturates (df' = df + gN) can drift by
    * multiples of that — so the accuracy claim rests on the MEASURED
    * gate, not the analytic one: a 64-bit majority-vote signature
    * flips a bit only when the aggregate drift across a document's
    * whole vocabulary crosses zero, and CorpusSpec's drift-valve spec
    * pins ≥95% of signatures unchanged under a within-bound delta. */
  val SimhashIdfMaxGrowth: Double = 0.10

  /** The IDF-simhash REFRESH VALVE (r15 verdict #5): the one signature
    * store whose model state (IDF weights) is corpus-GLOBAL, so a
    * row-local delta append is impossible in the exact sense — the
    * ServingStore.append scaladoc's "its append IS the rebuild" case.
    * A weekly-ingest pipeline must not pay a full weights+signatures
    * rebuild per delta, so this valve serves the STALE weight
    * generation for delta signatures while the corpus has grown at
    * most [[SimhashIdfMaxGrowth]] past the weights' training size, and
    * refuses (typed, loud) beyond it — the caller then rebuilds via
    * the normal serve path, which re-trains weights and re-signs the
    * corpus under the build lock.
    *
    * Call AFTER the delta documents land in `dir`, passing exactly the
    * newly landed rows; `expectedFp` is the documents fingerprint
    * snapshotted BEFORE the delta landed (the appendPostings
    * contract). Serve-path coupling: [[simhashIdfDedup]] keys the
    * signature store on the documents fingerprint and only re-trains
    * weights INSIDE a signature rebuild — so a successful append
    * (sigs restamped to the post-delta fingerprint) keeps serving the
    * stale weights with zero extra machinery, exactly the valve
    * semantics. */
  def appendSimhashIdf(spark: SparkSession, dir: String, newDocs: DataFrame,
      expectedFp: Long): Unit = {
    val sigsPath = Similarity.servePath("simhash_idf_sigs_", dir)
    val wPath = idfWeightsServePath(dir)
    val (_, wGen) = ServingStore.readSidecar("simhash-idf-weights", wPath)
      .getOrElse(throw new IllegalStateException(
        s"no served IDF weight generation at $wPath — run simhashIdfDedup " +
          "once (full build) before appending deltas"))
    val weights = spark.read.parquet(wGen)
    if (!weights.columns.contains("n_docs"))
      throw new ServingStore.ModelDriftRefusal(
        s"weights generation at $wGen predates the drift valve (no " +
          "n_docs): rebuild via the serve path once, then append deltas")
    val nBuildRow = weights.select(max(col("n_docs"))).head()
    // zero-row weights (every term pruned as df==1 or boilerplate) give
    // a NULL max — there is no training size to bound drift against
    if (nBuildRow.isNullAt(0)) throw new ServingStore.ModelDriftRefusal(
      s"weights generation at $wGen is empty (no term cleared the df " +
        "filters): no training size to bound drift against — rebuild " +
        "via the serve path over the grown corpus")
    val nBuild = nBuildRow.getLong(0)
    // the delta has landed (precondition), so the corpus table counts
    // the post-delta total
    val nNow = Tables.documents(spark, dir).count()
    val growth = (nNow - nBuild).toDouble / nBuild
    // |growth|: a delta that REPLACES or deletes documents (nNow <=
    // nBuild) drifts df/N exactly like net growth does — net-zero size
    // is no staleness alibi
    if (math.abs(growth) > SimhashIdfMaxGrowth) throw new ServingStore.ModelDriftRefusal(
      f"IDF weights were trained on $nBuild docs; the corpus now holds " +
        f"$nNow (|growth| ${math.abs(growth)}%.3f > $SimhashIdfMaxGrowth%.2f): " +
        "the staleness bound is exhausted — rebuild (serve simhashIdfDedup " +
        "against the new corpus) instead of appending")
    // the caller's contract stays "pass the pre-delta DOCUMENTS
    // fingerprint"; the store's stamps carry the generation-layout
    // version term, derived here from the same formula the serve uses
    ServingStore.append(spark, "simhash-idf-sigs", sigsPath,
      expectedFp = expectedFp * 31 + SimhashIdfSigStoreVersion,
      delta = signaturesFromSets(wordSets(newDocs), weights),
      postFp = () => simhashIdfSigsFingerprint(spark, dir),
      merge = (prev, d) =>
        prev.unionByName(classifyDeltaSigs(prev, d, Seq("simhash"))),
      uniqueKey = Some("doc_id"))
  }

  /** q_dedup_simhash — near-dup pairs with hamming distance <= 3, found by
    * joining on 16-bit chunks (any pair within distance 3 shares at least
    * one of 4 chunks), hot buckets capped ([[SimHashChunkCap]]). */
  def simhashDedup(docs: DataFrame): DataFrame =
    chunkedHammingPairs(simhashSignatures(docs))

  /** Chunked pigeonhole near-dup join over any (doc_id, simhash) frame. */
  /** Pigeonhole near-pair search over any (doc_id, simhash) signature
    * frame — shared by the text simhash family and the multimodal
    * perceptual-hash dedup ([[Multimodal.imageDedup]]).
    *
    * `obsPrefix` names the drop observation: the DOC-level callers keep
    * the standing `simhash_hot_drops_` prefix, while
    * [[collapsedHammingPairs]] runs this over one representative per
    * distinct signature and passes a `_rep_` prefix — its census counts
    * DISTINCT SIGNATURES, not documents, and a metric consumer summing
    * "dropped_chunk_rows" across the two meanings would silently
    * under-count serve-path drops (r18 advice). */
  private[graft] def chunkedHammingPairs(sigs0: DataFrame,
      obsPrefix: String = "simhash_hot_drops_"): DataFrame = {
    // The chunk stream feeds the hot-bucket frequency pass AND the
    // survival anti-join, and the surviving stream (with its per-doc
    // survival mask) feeds BOTH sides of the pigeonhole self-join —
    // without lineage truncation the signature pipeline is planned many
    // times per query (ruinous for the IDF variant, whose signatures
    // cost a vocabulary join + a 64-sum aggregate each time). Two lazy
    // checkpoints make each step compute exactly once; batch-only is
    // fine, the streaming admission path has its own signature plan.
    val chunkCols = (0 until Chunks).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    val chunked0 = sigs0
      .select(col("doc_id"), col("simhash"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
      .localCheckpoint(eager = false)
    val hot = chunked0.groupBy(col("c"), col("v")).agg(count(lit(1)).as("df"))
      .filter(col("df") > SimHashChunkCap)
      .select(col("c"), col("v"), col("df"))
      .observe(s"$obsPrefix${obsId.incrementAndGet()}",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_chunk_rows"))
      .select(col("c"), col("v"))
    // Per-doc SURVIVAL MASK (bit c set iff chunk c's bucket was not hot):
    // a matching chunk has the same (c, v) on both sides, so survival is
    // a shared property of the pair — which makes "the pair's FIRST
    // shared surviving chunk" well-defined from one side's mask alone,
    // and that is what replaces the final `.distinct()`: each pair is
    // emitted exactly once, at that first chunk, by a cheap codegen'd
    // bitwise filter. The old shape emitted a pair once per shared chunk
    // and shuffled the ENTIRE pair stream to dedupe — on near-dup-heavy
    // corpora the pair stream dwarfs the 4n-row mask aggregation this
    // costs instead (sf0.1: 81k pairs emitted, ~4x that pre-distinct).
    // built over the Chunks constant (a hardcoded 4-branch CASE would
    // silently alias chunk indexes > 3 onto bit 3 if Chunks is retuned);
    // chunk indexes come from chunkCols over the same constant, so the
    // chain is total
    val bitOf = (1 until Chunks).foldLeft(when(col("c") === 0, 1L)) {
      (acc, c) => acc.when(col("c") === c, 1L << c)
    }
    val withMask = chunked0
      .join(hot, Seq("c", "v"), "left_anti")
      .groupBy(col("doc_id"), col("simhash"))
      .agg(sum(bitOf).as("mask"))
    // re-derive the surviving chunk stream from (simhash, mask) — the
    // chunks are bitshifts of a column already in hand, cheaper than
    // joining the mask back onto the anti-joined stream
    val restream = withMask
      .select(col("doc_id"), col("simhash"), col("mask"),
        explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("mask"),
        col("ch.c").as("c"), col("ch.v").as("v"))
      .filter(col("mask").bitwiseAND(bitOf) =!= 0L)
      .localCheckpoint(eager = false)
    def chunkOf(sig: Column, cp: Int): Column =
      shiftrightunsigned(sig, cp * 16).bitwiseAND(lit(0xFFFFL))
    // emit only at the first shared SURVIVING chunk: for every earlier
    // chunk index, either the chunks differ or that bucket was hot
    val firstShared = (0 until Chunks).map { cp =>
      when(lit(cp) < col("c"),
        !((chunkOf(col("simhash"), cp) === chunkOf(col("simhash_b"), cp)) &&
          (col("mask").bitwiseAND(lit(1L << cp)) =!= 0L)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    restream
      .join(
        restream.select(col("doc_id").as("doc_b"), col("simhash").as("simhash_b"),
          col("c"), col("v")),
        Seq("c", "v"))
      .filter(col("doc_id") < col("doc_b"))
      .filter(firstShared)
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .filter(col("hamming") <= HammingMax)
  }

  /** DISTINCT-SIGNATURE collapse for the hamming family — the LOSSLESS
    * form, used by the perceptual-hash serves ([[Multimodal
    * .imageDedupServe]]) where a signature class is a true duplicate
    * clique; the TEXT simhash serves use [[collapsedHammingPairsExact]]
    * instead (bit-parity with the inline valve semantics — see its
    * scaladoc for why the two families diverge). (r18 — the
    * [[collapsedNgramParts]] move applied to every signature dedup):
    * [[chunkedHammingPairs]] depends on a row only through its
    * `simhash`, so rows sharing a signature are interchangeable — the
    * pigeonhole join runs over ONE representative per distinct
    * signature (min doc_id), cross-class pairs are recovered by
    * expanding each rep pair over both classes' member lists (hamming
    * is signature-determined, so the rep pair's value is every expanded
    * pair's value), and same-class pairs are hamming-0 by definition.
    * On a k-copy corpus the quadratic candidate join is k² cheaper
    * (sf10's 100-copy cliques: the join input drops from 500k rows to
    * the ~5k distinct signatures) and the clique pairs come from a
    * cheap output-proportional expansion join instead of the banded
    * self-join.
    *
    * Exactness: bit-equal to [[chunkedHammingPairs]] on any corpus
    * where the doc-level chunk census engages no hot cap (all shipped
    * SFs and the spec corpora — census counts per (c, v) bucket are
    * bounded by corpus size 500/5000, at or under [[SimHashChunkCap]]).
    * Where the doc-level cap WOULD engage, the divergence is
    * one-directional completeness: the collapsed census counts DISTINCT
    * signatures (reps <= docs per bucket, so rep-hot ⊆ doc-hot), and
    * same-class pairs bypass the cap entirely — the collapse emits a
    * superset of the capped doc-level pairs, recovering exactly the
    * duplicate-clique pairs the cap was observed dropping at sf10
    * (r17 verdict: the valve's drops are the defect this fixes; the
    * cap's purpose — bounding the join's quadratic blowup — binds on
    * distinct signatures, which is what the rep census counts). */
  private[graft] def collapsedHammingPairs(sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted class key -> no per-query class shuffle; ad-hoc frames
    // pay one shuffle on the 64-bit signature (map-side partial min
    // collapses duplicate-heavy partitions before the exchange). Both
    // branches checkpoint — see [[minhashDedupCollapsed]]'s broadcast-
    // churn note (r19).
    val m0 =
      (if (sigs.columns.contains("class_id")) sigs
       else sigs
         .withColumn("class_id",
           min(col("doc_id")).over(Window.partitionBy(col("simhash")))))
        .localCheckpoint(eager = false)
    val members = m0.select(col("doc_id"), col("class_id"))
    // rep-level census: the drop observation counts DISTINCT SIGNATURES
    // here, so it carries a disclosing prefix instead of silently
    // changing the doc-level metric's meaning (r18 advice)
    val repPairs = chunkedHammingPairs(
      m0.filter(col("doc_id") === col("class_id"))
        .select(col("class_id").as("doc_id"), col("simhash")),
      obsPrefix = "simhash_rep_hot_drops_")
    val cross = repPairs
      .join(members.select(col("class_id").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(members.select(col("class_id").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("hamming"))
    // direct class-equality self-join: size-1 classes match nothing, so
    // the csize>=2 prefilter's groupBy shuffle + extra join bought no
    // output reduction (r20, the minhash serve's mh-probe finding)
    val self = members.as("x")
      .join(members.as("y"),
        col("x.class_id") === col("y.class_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    cross.unionByName(self)
  }

  /** EXACT-PARITY collapse for the TEXT simhash family: the same
    * distinct-signature collapse as [[collapsedHammingPairs]], but with
    * the doc-WEIGHTED chunk census (hot set identical to the inline
    * form's) and the self-pair arm filtered by the class's survival
    * mask — so the output is bit-equal to [[chunkedHammingPairs]] over
    * the doc-level signatures at EVERY corpus, caps engaged or not.
    *
    * Why this family gets parity rather than the lossless expansion
    * the minhash/image serves use (r18, found by the sf10 pair): a
    * 64-bit text simhash on a low-entropy corpus CONFLATES distinct
    * documents — sf10 holds 3 897 distinct signatures over 4 992
    * distinct texts with one 24 900-doc signature class — so the
    * lossless self-expansion manufactures O(Σk²) signature-collision
    * pairs (385M at sf10, 178 s to emit) that the operator's own
    * precision note disclaims ([[HammingMax]]: low-entropy corpora
    * admit many non-duplicate pairs). The inline valve semantics ARE
    * this operator's contract; the collapse here is purely a cost
    * optimization (the pigeonhole join runs over 3 897 rep rows
    * instead of 500 k docs). The minhash serve keeps the lossless
    * form because its 32-slot class key effectively identifies the
    * TEXT (self pairs are true est-1.0 duplicates); the image serve
    * keeps it because equal dHash of replicated payloads IS the
    * duplication signal. */
  private[operators] def collapsedHammingPairsExact(sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted class key -> no per-query class shuffle (see
    // [[withSigClass]]); both branches checkpoint — see
    // [[minhashDedupCollapsed]]'s broadcast-churn note (r19)
    val m0 =
      (if (sigs.columns.contains("class_id")) sigs
       else sigs
         .withColumn("class_id",
           min(col("doc_id")).over(Window.partitionBy(col("simhash")))))
        .localCheckpoint(eager = false)
    val members = m0.select(col("doc_id"), col("class_id"))
    val cls = m0.groupBy(col("class_id"), col("simhash"))
      .agg(count(lit(1)).as("csize"))
      .localCheckpoint(eager = false)
    val chunkCols = (0 until Chunks).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    val chunked = cls
      .select(col("class_id"), col("simhash"), col("csize"),
        explode(array(chunkCols: _*)).as("ch"))
      .select(col("class_id"), col("simhash"), col("csize"),
        col("ch.c").as("c"), col("ch.v").as("v"))
      .localCheckpoint(eager = false)
    // the census counts DOCUMENTS (Σ csize), so the hot set is the
    // inline form's hot set exactly; drops observed as in the inline
    val hot = chunked.groupBy(col("c"), col("v"))
      .agg(sum(col("csize")).as("df"))
      .filter(col("df") > SimHashChunkCap)
      .observe(s"simhash_hot_drops_${nextObsId()}",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("df")), lit(0L)).as("dropped_chunk_rows"))
      .select(col("c"), col("v"))
    val bitOf = (1 until Chunks).foldLeft(when(col("c") === 0, 1L)) {
      (acc, c) => acc.when(col("c") === c, 1L << c)
    }
    // per-CLASS survival mask — identical to every member's inline mask
    // (chunk values and bucket hotness are signature-determined)
    val withMask = chunked
      .join(hot, Seq("c", "v"), "left_anti")
      .groupBy(col("class_id"), col("simhash"), col("csize"))
      .agg(sum(bitOf).as("mask"))
      .localCheckpoint(eager = false)
    val restream = withMask
      .select(col("class_id"), col("simhash"), col("mask"),
        explode(array(chunkCols: _*)).as("ch"))
      .select(col("class_id"), col("simhash"), col("mask"),
        col("ch.c").as("c"), col("ch.v").as("v"))
      .filter(col("mask").bitwiseAND(bitOf) =!= 0L)
      .localCheckpoint(eager = false)
    def chunkOf(sig: Column, cp: Int): Column =
      shiftrightunsigned(sig, cp * 16).bitwiseAND(lit(0xFFFFL))
    val firstShared = (0 until Chunks).map { cp =>
      when(lit(cp) < col("c"),
        !((chunkOf(col("simhash"), cp) === chunkOf(col("simhash_b"), cp)) &&
          (col("mask").bitwiseAND(lit(1L << cp)) =!= 0L)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val repPairs = restream
      .join(
        restream.select(col("class_id").as("class_b"),
          col("simhash").as("simhash_b"), col("c"), col("v")),
        Seq("c", "v"))
      .filter(col("class_id") < col("class_b"))
      .filter(firstShared)
      .select(col("class_id").as("ca"), col("class_b").as("cb"),
        bit_count(col("simhash").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .filter(col("hamming") <= HammingMax)
    val cross = repPairs
      .join(members.select(col("class_id").as("ca"), col("doc_id").as("da")), "ca")
      .join(members.select(col("class_id").as("cb"), col("doc_id").as("db")), "cb")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("hamming"))
    // same-class pairs share all four chunks: emitted by the inline
    // form iff at least one of them survives the census — mask != 0
    val dupMembers = members.join(
      withMask.filter(col("csize") >= 2 && col("mask") =!= 0L)
        .select(col("class_id")), "class_id")
    val self = dupMembers.as("x")
      .join(dupMembers.as("y"),
        col("x.class_id") === col("y.class_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    cross.unionByName(self)
  }

  /** Dir-serving form: the per-doc simhash signatures persist as a
    * fingerprint-keyed generation (same rationale as the IDF variant
    * above — a signature is a pure per-document function, so the corpus
    * scan + signature kernel amortize across a corpus generation and
    * the per-query cost is the pairing alone), and the pairing runs
    * over the EXACT-PARITY distinct-signature collapse
    * ([[collapsedHammingPairsExact]] — bit-equal to the doc-level form
    * at every corpus, caps engaged or not; spec-pinned). */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    collapsedHammingPairsExact(serveSimhashSigs(spark, dir))

  /** Serve-or-build the plain-simhash signature generation — shared by
    * the dedup serve and [[graft.streaming.SigSink]]. */
  private[graft] def serveSimhashSigs(spark: SparkSession, dir: String): DataFrame =
    ServingStore.ensure(spark, "simhash-sigs", Similarity.servePath("simhash_sigs_", dir),
        simhashSigsFingerprint(spark, dir)) { gen =>
      withSigClass(simhashSignatures(Tables.documents(spark, dir)), Seq("simhash"))
        .write.mode("overwrite").parquet(gen)
    }

  // ------------------------------------------- keep-one-copy resolution

  /** Rounds taken by the last [[resolveComponents]] call (spec hook for
    * the O(log n) round-bound guarantee; 0 = driver fast path). */
  private[graft] var lastResolveRounds: Int = 0

  /** Proper-edge count under which [[resolveComponents]] solves on the
    * driver instead of running the distributed star loop — 1M edges is
    * ~16 MB collected, the same order as Spark's broadcast threshold.
    * The bound is on the OBSERVED edge count (exact, from the
    * normalization checkpoint), not an estimate. */
  private[graft] val DriverResolveBound: Long = 1L << 20

  /** Connected components over near-dup pairs via alternating
    * large-star/small-star contractions (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): every document gets
    * the minimum doc_id of its dup cluster as `canonical_id` (the kept
    * copy).
    *
    *  - large-star: each node u sends every LARGER neighbor v to
    *    m = min(Γ(u) ∪ u)
    *  - small-star: each node u (over edges directed larger→smaller)
    *    points itself and every smaller neighbor at their minimum
    *
    * Both steps are one groupBy + one join over the edge set; the edge
    * count never grows beyond the input and rounds are O(log n) even for
    * adversarial chain/path components (the prior min-label-propagation
    * loop needed diameter rounds). Convergence is detected by an exact
    * fingerprint (count + endpoint sums + decimal hash sum) of the
    * normalized edge set; the result is then VERIFIED distributively —
    * every original pair's endpoints share a label, and every label is
    * its component's minimum id — so a wrong labeling fails loudly rather
    * than emitting non-minimal canonical ids.
    *
    * Strategy is SIZE-ADAPTIVE, the same switch Spark itself makes
    * between broadcast and shuffle joins: the normalization checkpoint
    * observes the exact proper-edge count for free, and when it fits
    * [[DriverResolveBound]] (and ids are longs) the components are
    * solved exactly by driver-side union-find — below the bound the
    * star loop's cost is per-round scheduling latency (4+ tiny
    * shuffles × O(log n) rounds), not data. Above the bound (the
    * 100 TB shape: billions of near-dup edges) the distributed loop
    * runs unchanged. Both paths feed the same verification. */
  def resolveComponents(pairs: DataFrame, maxIters: Int = 50,
      verify: Boolean = false, driverBound: Long = DriverResolveBound): DataFrame = {
    // Materialize the (possibly expensive) pair derivation ONCE and
    // truncate its lineage — the loop below must not re-derive candidate
    // pairs every iteration, and iterative plans must not grow unboundedly.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()

    // exact fingerprint of the normalized edge set, observed ON the
    // checkpoint job itself (no separate aggregation job per round):
    // equal fingerprints == equal sets up to a ~2^-64 hash-sum collision;
    // sums run in DECIMAL so ANSI bigint overflow cannot abort the check
    def checkpointWithFingerprint(df: DataFrame): (DataFrame, Seq[Any]) = {
      val obs = new org.apache.spark.sql.Observation()
      val cp = df.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(col("u").cast(DecimalType(38, 0))), lit(0)).as("su"),
        coalesce(sum(col("v").cast(DecimalType(38, 0))), lit(0)).as("sv"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))), lit(0)).as("sh"))
        .localCheckpoint()
      val m = obs.get
      (cp, Seq(m("n"), m("su"), m("sv"), m("sh")))
    }

    val (edges0, fp0) = checkpointWithFingerprint(
      p.filter(col("doc_a") =!= col("doc_b"))
        .select(
          greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .distinct())
    var edges = edges0
    var fp = fp0
    if (fp(0) == 0L)
      // no proper edges: every node (if any — all from self-pairs) is its
      // own singleton component
      return p.select(col("doc_a").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("canonical_id"))

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val de = e
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val mins = de.groupBy(col("u")).agg(min(col("v")).as("m"))
      de.join(mins, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    val nEdges = fp0.head.asInstanceOf[Long]
    val longIds = p.schema.fields.forall(_.dataType == LongType)

    // labels for every node incident to a proper edge (roots included)
    val memberLabels: DataFrame =
      if (nEdges <= driverBound && longIds) {
        lastResolveRounds = 0
        // edges0 is already checkpointed; the collect reads the cached
        // blocks, bounded by driverBound rows (≤ ~16 MB at the default)
        val es = edges0.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        // smaller root wins every union, so each root IS its component's
        // minimum id — the same canonical choice the star loop converges to
        es.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        val sess = pairs.sparkSession
        import sess.implicits._
        nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "canonical_id")
      } else {
        var converged = false
        var it = 0
        while (!converged && it < maxIters) {
          val (next, nfp) = checkpointWithFingerprint(smallStar(largeStar(edges)))
          edges = next
          converged = nfp == fp
          fp = nfp
          it += 1
        }
        lastResolveRounds = it
        // wrong-but-silent is worse than loud
        require(converged, s"component resolution did not converge in $maxIters rounds")

        // at the fixpoint every edge is (member -> root); roots label themselves
        val roots = edges.select(col("v").as("doc_id")).distinct()
          .join(edges.select(col("u").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("canonical_id"))
        edges.select(col("u").as("doc_id"), col("v").as("canonical_id"))
          .distinct()
          .unionAll(roots)
      }

    // nodes appearing ONLY in self-pairs (doc_a == doc_b) have no proper
    // edge and are their own singleton component — they must still be
    // labeled (input-contract parity with the recursive-CTE oracle)
    val selfOnly = p.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("doc_id")).distinct()
      .join(memberLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("canonical_id"))
    val labels = memberLabels
      .unionAll(selfOnly)
      .localCheckpoint()

    // Distributed verification (scalar aggregates only, no row collects)
    // is an AUDIT, not a serve-path step: it costs a verification join +
    // two extra actions, which at corpus scale doubles the query. The
    // convergence `require` above stays unconditional (wrong-but-silent
    // is worse than loud); full label verification runs on every spec
    // build via verify=true and on demand for explicit audits.
    if (verify) {
      // (1) both endpoints of every original pair got the same label —
      //     joined-row count, split-pair count and unlabeled-endpoint
      //     count come from ONE execution of the verification join
      val la = labels.select(col("doc_id").as("doc_a"), col("canonical_id").as("ca"))
      val lb = labels.select(col("doc_id").as("doc_b"), col("canonical_id").as("cb"))
      val check = p.join(la, "doc_a").join(lb, "doc_b")
        .agg(
          count(lit(1)).as("n"),
          coalesce(sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)), lit(0L)).as("split"))
        .collect()(0)
      require(check.getLong(0) == p.count(), "component resolution: unlabeled endpoints")
      require(check.getLong(1) == 0L,
        "component resolution: pair endpoints in different components")
      // (2) each label is the minimum doc_id of its component
      require(labels.groupBy(col("canonical_id")).agg(min(col("doc_id")).as("mn"))
        .filter(col("mn") =!= col("canonical_id")).isEmpty,
        "component resolution: non-minimal canonical id")
    }
    labels
  }

  /** q_dedup_resolve — canonical assignment for every doc that appears in
    * an n-gram near-dup pair. */
  def dedupResolve(spark: SparkSession, dir: String): DataFrame =
    resolveComponents(ngramJaccard(Tables.documents(spark, dir)))

  /** q_dedup_resolve SERVING path — connected components over the
    * CLASS graph (one node per distinct text: cross-class jaccard edges
    * plus self-loop members for duplicated texts with surviving
    * shingles), expanded to documents through the member map afterward —
    * exactly [[dedupResolveOracle]]'s formulation. Resolving on the doc
    * graph would feed a k-copy clique's k² pair rows and k-degree join
    * fan-out into every star-contraction round; on the class graph the
    * clique is ONE node, and the component minimum over class ids IS the
    * component minimum over doc ids (each class id is its class's min,
    * up to the query-time re-min over the member map). */
  def dedupResolveServe(spark: SparkSession, dir: String): DataFrame = {
    // class artifacts fresh for THIS corpus
    val docClass = postingsGeneration(spark, dir).path("docclass")
    val canon = ensureResolveCanon(spark, dir)
    // (doc_id, class_id) served from the pre-materialized artifact (r21):
    // one join instead of two per serve, with parquet stats the planner
    // can broadcast on (the members ⋈ cls derivation could not)
    spark.read.parquet(docClass)
      .join(canon, "class_id").select(col("doc_id"), col("canonical_id"))
  }

  /** Bumped on any change to resolution semantics, the edge
    * construction, or [[ResolveThreshold]]. */
  private[graft] val ResolveCanonStoreVersion = 1

  /** The jaccard threshold the resolve family is defined at — part of
    * the canon generation's identity (the store path carries it too). */
  private[graft] val ResolveThreshold = 0.8

  /** The resolved component map (class_id -> canonical_id) PERSISTED per
    * posting-index generation (r20; q_dedup_resolve sat two rounds past
    * its 0.1s done-bar because every serve re-ran the rep-level
    * candidate join + union-find — the same derived-state shape as
    * r19's asof rate series). Resolution is a pure function of the
    * posting generation at a fixed threshold, so it is paid once per
    * corpus generation; the per-query plan is sidecar scans + two
    * broadcast joins, zero candidate machinery. Keyed on the same
    * corpus fingerprint as the posting index: an append re-stamps that
    * fingerprint, so the canon REBUILDS — component structure is not
    * incrementally maintainable (a delta doc can merge two existing
    * components), which is exactly the staleness the key must see. */
  private[graft] def ensureResolveCanon(spark: SparkSession, dir: String): DataFrame = {
    // HotShingleCap is part of the canon's identity (ADVICE r20): the
    // component edges run through the query-time hot-shingle valve, so a
    // canon built under an env-overridden cap (the skew gate runs at cap
    // 20) must not be silently reused by default-cap runs on the same
    // dir — caps stay query-time-only precisely because no store embeds
    // one without keying on it.
    val fp = (Similarity.corpusFingerprint(spark, dir, "documents.parquet") * 31 +
      ResolveCanonStoreVersion) * 31 + HotShingleCap
    ServingStore.ensure(spark, "resolve-canon",
      Similarity.servePath(s"resolve_canon_t${(ResolveThreshold * 100).toInt}_", dir),
      fp) { gen =>
      val (_, repJaccard, selfCls) =
        collapsedNgramParts(spark, dir, ResolveThreshold)
      val edges = repJaccard.select(col("ca").as("doc_a"), col("cb").as("doc_b"))
        .unionAll(selfCls.select(col("class_id").as("doc_a"), col("class_id").as("doc_b")))
      // no coalesce: the size-adaptive resolver can return a distributed
      // star-contraction labeling at scale — the writer keeps its
      // parallelism, and the serve-side join broadcasts by file stats
      resolveComponents(edges)
        .select(col("doc_id").as("class_id"), col("canonical_id"))
        .write.mode("overwrite").parquet(gen)
    }
  }

  /** The whole oracle runs on the DISTINCT-TEXT graph, not the doc
    * graph (r16, found by the sf10 gate): exact copies collapse to one
    * representative per text (the group's min doc_id) BEFORE the
    * shingle self-join and the recursive reach — the doc-graph form
    * explodes on duplicate-heavy corpora (a k-copy clique contributes
    * k^2 pair rows, k^2 reach rows and k-degree join fan-out per
    * iteration; DuckDB spilled past the 66 GB disk at sf10's 100-copy
    * cliques). Semantics preserved exactly:
    *  - the hot-shingle cap counts document frequency with each text
    *    WEIGHTED by its copy count (SUM(n_copies) > cap == the
    *    doc-level COUNT(*) > cap);
    *  - per-doc shingle sets and jaccard are copy-invariant, so a
    *    cross-text pair exists iff its representative pair does;
    *  - same-text copies are jaccard-1.0 pairs whenever the text keeps
    *    >= 1 surviving shingle, which is the n_copies >= 2 member arm;
    *  - a component over docs is a component over distinct texts
    *    expanded, and its min doc_id is the min of its rep ids (each
    *    rep IS its group's min). */
  val dedupResolveOracle: String =
    """WITH RECURSIVE grp AS (
      |  SELECT text, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
      |  FROM documents GROUP BY text
      |), docrep AS (
      |  SELECT d.doc_id, g.rep_id FROM documents d JOIN grp g USING (text)
      |), words AS (
      |  SELECT rep_id, n_copies,
      |    STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS w
      |  FROM grp
      |), sh0 AS (
      |  SELECT DISTINCT rep_id, n_copies, shingle FROM (
      |    SELECT rep_id, n_copies,
      |      UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 4),
      |        i -> ARRAY_TO_STRING(w[i:i+4], ' '))) AS shingle
      |    FROM words WHERE LEN(w) >= 5
      |  )
      |), sh AS (
      |  SELECT rep_id, shingle FROM sh0
      |  WHERE shingle NOT IN (
      |    SELECT shingle FROM sh0 GROUP BY shingle HAVING SUM(n_copies) > 100)
      |), sizes AS (
      |  SELECT rep_id, COUNT(*) AS n_shingles FROM sh GROUP BY rep_id
      |), rpairs AS (
      |  SELECT a.rep_id AS ra, b.rep_id AS rb, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.rep_id < b.rep_id
      |  GROUP BY 1, 2
      |), redges0 AS (
      |  SELECT ra AS src, rb AS dst FROM rpairs
      |  JOIN sizes x ON ra = x.rep_id
      |  JOIN sizes y ON rb = y.rep_id
      |  WHERE CAST(shared AS DOUBLE)
      |    / CAST(x.n_shingles + y.n_shingles - shared AS DOUBLE) >= 0.8
      |), member AS (
      |  SELECT DISTINCT rep_id FROM (
      |    SELECT src AS rep_id FROM redges0
      |    UNION ALL SELECT dst AS rep_id FROM redges0
      |    UNION ALL SELECT g.rep_id FROM grp g
      |      JOIN sizes s ON g.rep_id = s.rep_id WHERE g.n_copies >= 2
      |  )
      |), redges AS (
      |  SELECT src, dst FROM redges0 UNION ALL SELECT dst, src FROM redges0
      |), reach(src, dst) AS (
      |  SELECT rep_id, rep_id FROM member
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN redges e ON r.dst = e.src
      |), repcanon AS (
      |  SELECT src AS rep_id, MIN(dst) AS canon FROM reach GROUP BY src
      |)
      |SELECT dr.doc_id, rc.canon AS canonical_id
      |FROM docrep dr JOIN repcanon rc ON dr.rep_id = rc.rep_id""".stripMargin
}
