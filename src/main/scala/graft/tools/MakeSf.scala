package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Materialize a k-fold replication of a testdata dir — the sf1 corpus
  * for the fixed-cost-floor bench (r13 verdict #2: the defense of the
  * >2x-but-sub-second rows is "constants don't grow with data"; a
  * full-suite pair at 10x the data either retires them or names the
  * real offenders).
  *
  * Facts replicate with id offsets so fact-side joins stay
  * consistent; dimension tables copy through unchanged — fact growth is what the floor claim is about, and
  * replicated dims would break fact->dim joins' semantics (10 copies
  * of every part row under new keys match nothing). Text/media/
  * embedding content replicates EXACTLY (no perturbation): both
  * engines of a bench pair read identical files, and the signature
  * families' caps are the documented behavior under duplicate-heavy
  * corpora.
  *
  * A fourth arg `skew` (r17 verdict #5) switches the DOCUMENT replicas
  * to token-level mutation: replica 0 copies exactly, replicas i > 0
  * deterministically rewrite ~1/20 tokens (seeded by (doc_id, i, pos)).
  * Exact replication stresses the duplicate-clique shape (which the
  * distinct-text/signature collapses absorb); mutated replicas are
  * DISTINCT texts with high pairwise similarity, so they bypass every
  * collapse and land on the hot-cap valves (HotShingleCap,
  * BandBucketCap, SimHashChunkCap) — the Zipf-skew stress the exact
  * tier never exercises. `runMain graft.tools.Probe skew <dir>` is the
  * measuring gate over the result.
  *
  * Run: `sbt 'runMain graft.tools.MakeSf /root/testdata/sf0.1 /tmp/sf1 10'`
  * Not part of the driver contract.
  */
object MakeSf {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    val skew = args.lift(3).contains("skew")
    val spark = GraftSession.local("graft-makesf")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[makesf] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def replicate(t: String, offsets: Map[String, Long]) =
      write(t)((0 until k).map { i =>
        offsets.foldLeft(read(t)) { case (df, (c, off)) =>
          df.withColumn(c, col(c) + lit(i * off))
        }
      }.reduce(_ unionAll _))

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t)(read(t)))
    // o_orderkey/l_orderkey share the offset so the order<->lineitem
    // join replicates consistently; custkey/partkey/suppkey stay (dims
    // unchanged)
    replicate("orders", Map("o_orderkey" -> 100000000L))
    replicate("lineitem", Map("l_orderkey" -> 100000000L))
    replicate("events", Map("event_id" -> 100000000L, "user_id" -> 10000000L))
    if (skew)
      // near-dup-heavy tier: replicas are distinct texts (no collapse
      // class absorbs them) that still share ~95% of their shingles —
      // candidate-join pressure goes to the caps, not the collapse
      write("documents")((0 until k).map { i =>
        val d = read("documents").withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        if (i == 0) d
        else d.withColumn("text",
          expr("array_join(transform(split(text, ' '), (t, p) -> " +
            s"CASE WHEN pmod(xxhash64(doc_id, $i, p), 20) = 0 " +
            s"THEN concat(t, '_m$i') ELSE t END), ' ')"))
      }.reduce(_ unionAll _))
    else replicate("documents", Map("doc_id" -> 10000000L))
    replicate("embeddings", Map("vec_id" -> 10000000L))
    spark.stop()
  }
}
