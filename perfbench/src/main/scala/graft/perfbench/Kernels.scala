package graft.perfbench

import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Kernel layer: times the public `compute`/`insert` entry points of
  * `graft.functions` on the workload's own documents and vectors,
  * outside any Spark job. Each figure is the median of several passes
  * over the whole input, per input byte, vector or insert. */
object Kernels {
  /** Median ns per pass of `body` over `passes` passes, after one
    * untimed pass that lets the JIT compile it. */
  private def perPass(passes: Int)(body: => Long): Double = {
    var sink = body
    val ts = (0 until passes).map { _ =>
      val t = System.nanoTime()
      sink += body
      (System.nanoTime() - t).toDouble
    }
    if (sink == 42L) println("") // keeps the JIT from dropping the work
    Main.median(ts)
  }

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().flatMap(r => Option(r.getString(0))).map(UTF8String.fromString)
    val bytes = texts.map(_.numBytes().toLong).sum.toDouble
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding")
      .collect().flatMap(r => Option(r.getSeq[Float](0))).map(_.toArray)
    val passes = 5
    def textKernel(f: UTF8String => Long): Double =
      perPass(passes) { var h = 0L; texts.foreach(t => h += f(t)); h } / bytes
    val minhash = textKernel(t => { val a = MinHashKernel.compute(t); if (a == null) 0L else a.length.toLong })
    val simhash = textKernel(t => SimHashKernel.compute(t))
    val shingle = textKernel(t => { val a = ShingleKernel.compute(t, MinHashKernel.ShingleN); if (a == null) 0L else a.length.toLong })
    val winnow = textKernel(t => { val a = WinnowKernel.compute(t, graft.operators.TextAnalysis.WinnowK,
      graft.operators.TextAnalysis.WinnowW); if (a == null) 0L else 1L })
    val stats = textKernel(t => { val r = TextStatsKernel.compute(t); if (r == null) 0L else r.numFields.toLong })
    // 64 centroids drawn from the vectors themselves, as the quantizers do
    val cents = new GenericArrayData(vecs.indices.by(math.max(1, vecs.length / 64)).take(64)
      .map(i => new GenericArrayData(vecs(i).map(_.toDouble))).toArray[Any])
    val va = vecs.map(v => new GenericArrayData(v.map(x => x: Any)))
    val argmin = perPass(passes) {
      var h = 0L
      va.foreach(v => h += Argmin2Kernel.compute(v, cents, vecIsDouble = false).getInt(0))
      h
    } / math.max(1, va.length)
    // a top-10 heap per query vector over every vector's dot product
    val queries = vecs.take(16)
    val scores = queries.map(q => vecs.map(v => { var s = 0.0; var i = 0; while (i < q.length) { s += q(i) * v(i); i += 1 }; s }))
    val inserts = scores.map(_.length.toLong).sum.toDouble
    val topk = perPass(passes) {
      var h = 0L
      scores.foreach { row =>
        val heap = new TopKHeap(10)
        var i = 0
        while (i < row.length) { heap.insert(row(i), i.toLong, 0L); i += 1 }
        h += heap.size
      }
      h
    } / math.max(1.0, inserts)
    Map(
      "kernel.minhash_ns_per_byte" -> minhash,
      "kernel.simhash_ns_per_byte" -> simhash,
      "kernel.shingle_ns_per_byte" -> shingle,
      "kernel.winnow_ns_per_byte" -> winnow,
      "kernel.textstats_ns_per_byte" -> stats,
      "kernel.argmin2_ns_per_vec" -> argmin,
      "kernel.topk_ns_per_insert" -> topk)
  }
}
