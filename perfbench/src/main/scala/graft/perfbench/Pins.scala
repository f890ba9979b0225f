package graft.perfbench

import graft.SparkEntry
import graft.tools.Golden

import scala.collection.mutable

/** The untimed pin pass: (rows, checksum) of every query over the
  * benchmark corpus, by `graft.tools.Golden.checksum`. It also proves
  * that [[Canon]] (what each run checks with) agrees with Golden on
  * every query, and, given `--verified DIR` (a `graft.Verify` dump whose
  * oracled results DuckDB has matched), that each dumped result carries
  * the same checksum as its pin. */
object Pins {
  def run(a: Main.Args): Unit = {
    val spark = Main.session(traced = false)
    val dir = a("data")
    val pins = mutable.LinkedHashMap.empty[String, Seq[Any]]
    val problems = mutable.ArrayBuffer.empty[String]
    var verified = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val (n, h) = Golden.checksum(df)
      pins(name) = Seq(n, h)
      val canon = Canon.checksum(Canon.execute(df))
      if (canon != ((n, h))) problems += s"$name: Canon $canon != Golden ${(n, h)}"
      a.get("verified").foreach { v =>
        val dump = new java.io.File(s"$v/$name")
        if (dump.isDirectory) {
          val d = Golden.checksum(spark.read.parquet(dump.getPath))
          if (d != ((n, h))) problems += s"$name: verified dump $d != pin ${(n, h)}"
          else verified += 1
        }
      }
      println(s"[pins] $name $n $h")
    }
    Main.writeJson(a("out"), Map(
      "queries" -> pins,
      "verified_dumps_matching" -> verified,
      "problems" -> problems))
    spark.stop()
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println("[pins] " + p))
      sys.exit(1)
    }
  }
}
