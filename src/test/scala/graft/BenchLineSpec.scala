package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI guard for the bench's one parseable stdout line (r10 postmortem:
  * the compact-line size guard `sys.error`'d at 89 queries AFTER the
  * measurement loop, so the driver's BENCH_r10.json was rc=1 with zero
  * parsed results). These specs run the REAL fitter over the REAL query
  * names at the current count, so the next query addition that would
  * overflow the driver's tail capture fails here in `sbt test`, not in
  * the driver. */
class BenchLineSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  test("abbrev keys are deterministic and collision-free at the current query set") {
    val m = Bench.abbrevKeys(names)
    assert(m.values.toSet.size === names.size)
    assert(Bench.abbrevKeys(names) === m)
    // no abbreviated key collides with another query's prefixless FULL key
    // either — the driver may see mixed-rung lines across rounds and a
    // cross-rung alias would silently merge two queries' numbers
    val full = names.map(_.stripPrefix("q_")).toSet
    m.foreach { case (n, a) =>
      assert(!full.contains(a) || n.stripPrefix("q_") == a,
        s"abbrev $a of $n shadows a different full key")
    }
  }

  test("compact line keeps FULL per-query coverage inside the tail budget " +
      "at the current query count (no failures, pessimistic widths)") {
    // worst realistic value width: tens of seconds, two decimals, no
    // trailing zeros to trim
    val results = names.map(n => (n, 99.99))
    val (line, _) = Bench.compactLine(results, Map.empty[String, Int], "sf0.1")
    assert(line.length <= Bench.CompactBudget,
      s"${line.length} chars — query growth outgrew every key rung; " +
        "add the next degradation lever before the driver hits this")
    val node = parse(line.take(2000)) // a 2000-char tail capture must hold it whole
    assert(node.get("metric").asText === "total")
    assert(node.get("unit").asText === "sec")
    assert(node.get("sf").asText === "sf0.1")
    assert(node.get("queries").size === names.size,
      "per-query map was dropped — coverage must survive at the current count")
    assert(math.abs(node.get("value").asDouble - 99.99 * names.size) < 0.5)
  }

  test("compact line carries the same-window pair ratio and still fits") {
    val results = names.map(n => (n, 99.99))
    val (line, _) = Bench.compactLine(
      results, Map.empty[String, Int], "sf0.1", Some(("r15", 1.4384)))
    assert(line.length <= Bench.CompactBudget)
    val node = parse(line)
    assert(node.get("pair").asText === "r15:1.44",
      "pair ratio missing or misrendered in the compact line")
  }

  test("pairRatio reads the latest committed driver-protocol pair") {
    // the committed r14 pair is a fixture: the ratio must reproduce the
    // published 1.44x over the 70 shared oracled queries
    val got = Bench.pairRatio()
    assert(got.isDefined, "no driver_protocol pair found under tools/")
    val (round, ratio) = got.get
    assert(round.drop(1).toInt >= 14)
    if (round == "r14")
      assert(math.abs(ratio - 1.438) < 0.01, s"r14 pair ratio drifted: $ratio")
  }

  test("BASELINE.md's key-map appendix matches the code's abbreviation") {
    // the published appendix is the judge's decoder ring for driver
    // bench lines; if it drifts from Bench.abbrevKeys (new query, rule
    // tweak) this fails in `sbt test` — regenerate with
    // `runMain graft.tools.CompactKeys` and re-paste.
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
    // a renamed/removed heading must fail HERE, not degrade into parsing
    // the whole file's tables as the "appendix"
    assert(md.contains("## Appendix: compact-line key map"),
      "BASELINE.md appendix heading missing or renamed")
    val appendix = md.split("## Appendix: compact-line key map").last
    val published = appendix.linesIterator
      .filter(l => l.startsWith("| ") && !l.startsWith("| full name") && !l.startsWith("|---"))
      .map(_.split("\\|").map(_.trim).filter(_.nonEmpty))
      .collect { case Array(full, short) => full -> short }
      .toMap
    val want = Bench.abbrevKeys(names)
      .collect { case (n, a) if a != n.stripPrefix("q_") => n.stripPrefix("q_") -> a }
    assert(published == want,
      s"appendix drift: missing=${want.keySet -- published.keySet} " +
        s"stale=${published.keySet -- want.keySet} " +
        s"changed=${want.filter { case (k, v) => published.get(k).exists(_ != v) }.keys}")
  }

  test("compact line stays parseable even in the all-failed worst case") {
    val results = names.map(n => (n, -1.0))
    val errs = scala.collection.immutable.ListMap(names.map(n => n -> 3): _*)
    val (line, _) = Bench.compactLine(results, errs, "sf0.1")
    assert(line.length <= Bench.CompactBudget)
    val node = parse(line.take(2000))
    assert(node.get("metric").asText === "total")
    // coverage may degrade on this rung, but the failure disclosure or the
    // unmistakable negative total must survive
    assert(node.has("failed_rounds") || node.get("value").asDouble < 0)
  }

  test("stealS reads the steal column of /proc/stat's aggregate cpu line") {
    val f = java.io.File.createTempFile("graftstat", ".txt")
    try {
      java.nio.file.Files.write(f.toPath,
        "cpu  4705 150 1120 16250 520 0 35 1234 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n".getBytes("UTF-8"))
      assert(Bench.stealS(f.getPath) == 12.34)
      java.nio.file.Files.write(f.toPath, "cpu  4705 150 1120\n".getBytes("UTF-8"))
      assert(Bench.stealS(f.getPath) == 0.0, "a line without the steal column reads 0")
    } finally f.delete()
    assert(Bench.stealS(f.getPath + ".absent") == 0.0, "a missing file reads 0")
  }
}
