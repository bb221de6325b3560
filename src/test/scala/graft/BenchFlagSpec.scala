package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's two flags and its stdout contract line. The intra-run
  * spread flag: t06 ran iterations [2.14, 37.16, 30.19] s
  * and was invisible to BOTH other signals — the min-vs-min regression
  * flag (the min looked healthy) and the slowest-8-by-min spread
  * (2.14 s never ranks). The max/min ratio is the only statistic that
  * sees a warm-slower-than-cold shape. The regression flag reads its
  * baseline from the prior record's possibly truncated tail, and the
  * compact line must fit the launcher's 2000-char tail window.
  */
class BenchFlagSpec extends AnyFunSuite {

  test("a warm-slow entry with a healthy min is flagged") {
    val results = Seq(
      "t06_minhash_lsh" -> Seq(2.14, 37.16, 30.19),
      "q01_pruned_scan" -> Seq(0.20, 0.21, 0.19))
    val flagged = Bench.wideSpreadEntries(results)
    assert(flagged.map(_._1) === Seq("t06_minhash_lsh"))
    assert(flagged.head._3 > 17.0 && flagged.head._3 < 17.5)
  }

  test("uniform spreads and cold-start-only entries stay unflagged") {
    val results = Seq(
      // normal cold-start shape: first iteration slower, under 4x
      "a_q" -> Seq(3.0, 1.0, 1.1),
      // uniformly shifted (a real regression, min-flag territory)
      "b_q" -> Seq(5.0, 5.1, 4.9))
    assert(Bench.wideSpreadEntries(results).isEmpty)
  }

  test("failed iterations and single-iteration runs are excluded") {
    val results = Seq(
      "failed_q" -> Seq(1.0, Double.PositiveInfinity, 1.2),
      "single_q" -> Seq(9.0),
      "zero_q" -> Seq(0.0, 1.0))
    assert(Bench.wideSpreadEntries(results).isEmpty)
  }

  test("worst ratios sort first") {
    val results = Seq(
      "mild" -> Seq(1.0, 4.5),
      "severe" -> Seq(1.0, 20.0))
    assert(Bench.wideSpreadEntries(results).map(_._1) ===
      Seq("severe", "mild"))
  }

  // --- the regression baseline: the prior record's parse ---

  /** A compact line shaped like BENCH_r21's (ratios under
    * suite_context, wide, load and other_cpu included).
    */
  private val r21Line =
    """{"metric":"total","fam":{"g":8.7,"s":178.7,"t":55.0},""" +
      """"flagship":{"g06":0.677,"g06b":0.769},""" +
      """"top":{"s14c":15.98,"s14b":11.10,"t11":3.30},""" +
      """"spread":{"s14c":[19.8,16.0,17.4],"t11":[3.6,3.5,15.2]},""" +
      """"suite_context":{"t11":2.1},"wide":{"t11":8.7,"s33":4.1},""" +
      """"index_warm":2.79,"value":302.523,"unit":"sec","n_ok":197,""" +
      """"load":{"p50":5.2,"max":20.7},"other_cpu":{"p50":0.0,""" +
      """"max":3.5},"tree":"16f39a54","sf":"/data/sf0.1"}"""

  /** A round record file: a header, then the stdout tail with the
    * line embedded as an escaped JSON string.
    */
  private def record(tail: String, header: String =
      "{\n  \"n\": 21,\n  \"rc\": 0,\n  \"cpus\": 32,\n  \"sf\": 0.1,\n"): String =
    header + "  \"tail\": \"WARN some log line\\n" +
      tail.replace("\"", "\\\"") + "\\n[success] Total time: 1751 s\"\n}"

  private val r21Mins = Map("g" -> 8.7, "s" -> 178.7, "t" -> 55.0,
    "g06" -> 0.677, "g06b" -> 0.769, "s14c" -> 15.98, "s14b" -> 11.10,
    "t11" -> 3.30)

  test("prevMins reads the seconds ahead of the flag sections; ratios " +
      "and metadata never become baseline seconds") {
    assert(Bench.prevMins(record(r21Line), "/data/sf0.1") ===
      Some(r21Mins))
    // a compact header: its scalars are metadata, not entries
    assert(Bench.prevMins(record(r21Line,
      """{"n":21,"rc":0,"cpus":32,"sf":0.1,"""), "/data/sf0.1") ===
      Some(r21Mins))
    // the line unescaped, as a bench_out-style file holds it
    assert(Bench.prevMins(r21Line, "/data/sf0.1") === Some(r21Mins))
    // a regressed map is cut too, even ahead of the spread
    val reg = r21Line.replace(""""spread":""",
      """"regressed":{"t07":4.2},"spread":""")
    assert(Bench.prevMins(reg, "/data/sf0.1") === Some(r21Mins))
  }

  test("prevMins: a record for another SF gives None; one without an " +
      "SF stamp is read") {
    assert(Bench.prevMins(record(r21Line), "/data/sf0.01").isEmpty)
    val noSf = r21Line.replace(""","sf":"/data/sf0.1"""", "")
    assert(Bench.prevMins(noSf, "/data/sf0.01") === Some(r21Mins))
  }

  test("prevMins on a record with its head truncated keeps the keys " +
      "that survive, and no ratio leaks past a lost spread anchor") {
    // cut inside top: the tail of top survives
    val inTop = r21Line.substring(r21Line.indexOf("\"s14b\""))
    assert(Bench.prevMins(record(inTop), "/data/sf0.1") ===
      Some(Map("s14b" -> 11.10, "t11" -> 3.30)))
    // cut inside spread: the spread anchor is gone, so suite_context
    // and wide must cut; load and other_cpu sit past the cut
    val inSpread = r21Line.substring(r21Line.indexOf("\"t11\":[3.6"))
    assert(Bench.prevMins(record(inSpread), "/data/sf0.1") ===
      Some(Map.empty[String, Double]))
    val noCtx = inSpread.replace(""""suite_context":{"t11":2.1},""", "")
    assert(Bench.prevMins(record(noCtx), "/data/sf0.1") ===
      Some(Map.empty[String, Double]))
  }

  // --- the compact stdout line ---

  test("compactLine: 197 entries all flagged regressed and wide still " +
      "fit 1900 chars, parse as JSON and keep value, n_ok and sf") {
    val results = (0 until 197).map { i =>
      val base = 10.0 + i / 10.0
      val fam = "gmqstv"(i % 6)
      f"$fam$i%03d_synthetic_entry" ->
        (base +: (1 to 15).map(j => base * (4.5 + j / 10.0)))
    }
    val prev = results.map { case (k, ts) =>
      k.takeWhile(_ != '_') -> ts.min / 3 }.toMap
    assert(results.forall { case (k, ts) =>
      ts.max / ts.min > 4 && ts.min > 2 * prev(k.takeWhile(_ != '_')) })
    val line = Bench.compactLine(results, prev, 2.5, Seq.empty, "/data/sf0.1")
    assert(line.length <= 1900)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(json.get("n_ok").asInt === 197)
    assert(math.abs(json.get("value").asDouble -
      results.map(_._2.min).sum) < 0.001)
    assert(json.get("sf").asText === "/data/sf0.1")
    assert(json.get("metric").asText === "total")
    // the flags keep their 8 worst ratios; the spread map is what
    // gets shed, and only part of it
    assert(json.get("regressed").size === 8)
    assert(json.get("wide").size === 8)
    assert(json.get("top").size === 10)
    val spread = json.get("spread").size
    assert(spread > 0 && spread < 20)
  }
}
