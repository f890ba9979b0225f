package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** The canonical (rows, checksum) of a query result, by the rule of
  * [[graft.tools.Golden.checksum]]: columns sorted by name, rows
  * rendered and sorted, md5 over the lines. Split in two so the timed
  * part is only the execution: [[execute]] runs a NEW Dataset over the
  * frame's plan (a fresh QueryExecution, every column materialized) and
  * [[checksum]] renders the collected rows afterwards, untimed. The pin
  * pass asserts that this equals `Golden.checksum` on every query. */
object Canon {
  def project(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.head, cols.tail: _*)
  }

  def execute(df: DataFrame): Array[Row] = project(df).collect()

  private def render(v: Any): String = v match {
    case null => "␀"
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  def checksum(rows: Array[Row]): (Long, String) = {
    val lines = rows.map(_.toSeq.map(render).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }
}
