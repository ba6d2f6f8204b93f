package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench sidecar's self-adjudicating gate fields (VERDICT
  * r16 #2): a drift above the alert factor must be labeled loudly in
  * the emitted JSON itself, so a raw-gate breach on a half-speed
  * container (the r16 driver leg: raw 2.94×, drift 2.215, normalized
  * 1.33×) reads as weather at emission time — and a calm leg must NOT
  * carry the alert, so the flag stays meaningful. */
class BenchSpec extends AnyFunSuite
    with org.scalactic.TripleEquals with org.scalactic.Tolerance {

  private def parse(fragment: String): Map[String, String] = {
    // the fragment is a comma-led run of "key":value pairs — split on
    // top-level `,"` boundaries (values contain no nested objects)
    fragment.stripPrefix(",").split(""",(?=")""").map { kv =>
      val i = kv.indexOf(':')
      kv.take(i).stripPrefix("\"").stripSuffix("\"") -> kv.drop(i + 1)
    }.toMap
  }

  test("a loaded container (drift > 1.5) emits drift_alert and a weather-pointing verdict") {
    // the r16 driver leg's shape: raw 125.95 over drift 2.215
    val json = Bench.gateVerdictJson(125.95, Some((2.215, 12, 1.1363, 4.9264)))
    val f = parse(json)
    assert(f("drift_alert") == "true")
    assert(f("raw_gate_ratio").toDouble === 125.95 / 42.9 +- 0.001)
    assert(f("norm_gate_ratio").toDouble === 125.95 / 2.215 / 42.9 +- 0.001)
    val verdict = f("bench_verdict")
    assert(verdict.contains("DRIFT ALERT"))
    assert(verdict.contains("2.94x") && verdict.contains("drift 2.215"))
    assert(verdict.contains("normalized 1.33x"))
    assert(verdict.contains("spread [1.14,4.93]"))
  }

  test("a calm leg does not alert; ratios still present; not partial") {
    // the r16d-2 best leg's shape: raw 53.61 over drift 0.924
    val f = parse(Bench.gateVerdictJson(53.61, Some((0.924, 12, 0.82, 1.00))))
    assert(f("drift_alert") == "false")
    assert(f("gate_partial") == "false")
    assert(!f("bench_verdict").contains("DRIFT ALERT"))
    assert(f("raw_gate_ratio").toDouble === 1.25 +- 0.005)
    assert(f("norm_gate_ratio").toDouble === 53.61 / 0.924 / 42.9 +- 0.001)
  }

  test("alert threshold is exclusive and SYMMETRIC: slow AND fast containers alert") {
    assert(parse(Bench.gateVerdictJson(60.0, Some((1.5, 12, 1.4, 1.6))))("drift_alert") == "false")
    assert(parse(Bench.gateVerdictJson(60.0, Some((1.501, 12, 1.4, 1.6))))("drift_alert") == "true")
    // a 2x-FAST container can hide a real code regression behind a
    // passing raw gate — the mirror image of the r16 weather breach
    assert(parse(Bench.gateVerdictJson(60.0, Some((0.667, 12, 0.6, 0.7))))("drift_alert") == "false")
    assert(parse(Bench.gateVerdictJson(60.0, Some((0.5, 12, 0.45, 0.55))))("drift_alert") == "true")
  }

  test("a partial battery is marked: failed queries or a dev subset never read as a gate pass") {
    val f = parse(Bench.gateVerdictJson(30.0, Some((1.0, 12, 0.9, 1.1))))
    assert(f("gate_partial") == "false")
    val fFail = parse(Bench.gateVerdictJson(30.0, Some((1.0, 12, 0.9, 1.1)), nFailed = 3))
    assert(fFail("gate_partial") == "true")
    assert(fFail("bench_verdict").contains("PARTIAL RUN (3 failed)"))
    assert(fFail("bench_verdict").contains("not a gate reading"))
    val fSub = parse(Bench.gateVerdictJson(30.0, None, subset = true))
    assert(fSub("gate_partial") == "true")
    assert(fSub("bench_verdict").contains("PARTIAL RUN (query subset)"))
  }

  test("a run off the sf0.1 gate scale is partial: no raw_breach, the verdict names the scale") {
    // 101.94 s breaches the raw gate; at sf0.001 or sf1 it is no reading
    for ((dir, scale) <- Seq("/data/sf0.001" -> "sf0.001", "/data/sf1/" -> "sf1",
        "sf0.01" -> "sf0.01")) {
      val f = parse(Bench.gateVerdictJson(101.94, Some((1.0, 12, 0.9, 1.1)),
        boardMed = Some(1.0), sfDir = dir))
      assert(f("gate_partial") == "true", dir)
      assert(!f.contains("raw_breach"), dir)
      assert(f("bench_verdict").contains(s"PARTIAL RUN (scale $scale, gate references are sf0.1)"),
        dir)
    }
    // the gate scale itself, with or without a trailing slash, still gates
    for (dir <- Seq("/data/testdata/sf0.1", "/data/sf0.1/")) {
      val f = parse(Bench.gateVerdictJson(101.94, Some((1.0, 12, 0.9, 1.1)),
        boardMed = Some(1.0), sfDir = dir))
      assert(f("gate_partial") == "false" && f.contains("raw_breach"), dir)
    }
  }

  test("anchors unavailable: raw-only fields, no spurious alert, verdict says so") {
    val f = parse(Bench.gateVerdictJson(60.0, None))
    assert(f("drift_alert") == "false")
    assert(!f.contains("norm_gate_ratio"))
    assert(f("bench_verdict").contains("anchors unavailable"))
    assert(f("raw_gate_ratio").toDouble === 60.0 / 42.9 +- 0.001)
  }

  // --- raw_breach adjudication (VERDICT r18 #1): the r18 gray zone ---

  test("the r18 driver leg's shape now self-adjudicates as weather at emission") {
    // raw 101.94 = 2.376x at drift 1.4738 (drift_alert silent), board
    // median 1.036 — the exact numbers VERDICT r18 adjudicated by hand
    val f = parse(Bench.gateVerdictJson(101.94, Some((1.4738, 12, 1.19, 2.63)),
      boardMed = Some(1.036)))
    assert(f("raw_gate_ratio").toDouble === 2.376 +- 0.001)
    assert(f("drift_alert") == "false")
    assert(f("board_median").toDouble === 1.036 +- 0.001)
    assert(f("raw_breach") == "\"weather\"")
    val v = f("bench_verdict")
    assert(v.contains("raw breach adjudication"))
    assert(v.contains("board median 1.036 in [0.90,1.15]"))
    assert(v.contains("WEATHER (environment, not code)"))
  }

  test("a breach with the board median OUT of band reads investigate: the board moved") {
    val f = parse(Bench.gateVerdictJson(101.94, Some((1.4738, 12, 1.19, 2.63)),
      boardMed = Some(1.25)))
    assert(f("raw_breach") == "\"investigate\"")
    assert(f("bench_verdict").contains("OUTSIDE [0.90,1.15]"))
    assert(f("bench_verdict").contains("INVESTIGATE"))
    // too FAST a board is equally out of band (a fast board under a
    // slow total means the refs no longer describe this binary)
    assert(parse(Bench.gateVerdictJson(101.94, Some((1.4738, 12, 1.19, 2.63)),
      boardMed = Some(0.85)))("raw_breach") == "\"investigate\"")
  }

  test("a breach whose NORMALIZED ratio also fails the gate is never weather") {
    // median in band but norm 200/1.2/42.9 = 3.88x > 2: the slowdown
    // survives drift normalization — that is a regression signal
    val f = parse(Bench.gateVerdictJson(200.0, Some((1.2, 12, 1.1, 1.3)),
      boardMed = Some(1.0)))
    assert(f("raw_breach") == "\"investigate\"")
    assert(f("bench_verdict").contains("> 2x gate"))
  }

  test("cannot-adjudicate reads investigate, loudly — never a silent weather pass") {
    // breach with drift but no per-query refs
    val f = parse(Bench.gateVerdictJson(101.94, Some((1.4738, 12, 1.19, 2.63))))
    assert(f("raw_breach") == "\"investigate\"")
    assert(f("bench_verdict").contains("board median unavailable => INVESTIGATE"))
    assert(!f.contains("board_median"))
    // breach with no drift at all (anchors unavailable)
    val g = parse(Bench.gateVerdictJson(101.94, None))
    assert(g("raw_breach") == "\"investigate\"")
    assert(g("bench_verdict").contains("drift unavailable => INVESTIGATE"))
    // a drift-divided statistic is structurally absent on a no-drift
    // line even if a (buggy) caller supplies one
    val h = parse(Bench.gateVerdictJson(101.94, None, boardMed = Some(1.0)))
    assert(!h.contains("board_median") && h("raw_breach") == "\"investigate\"")
  }

  test("no breach: no raw_breach field, but board_median still rides the line") {
    val f = parse(Bench.gateVerdictJson(60.0, Some((1.0, 12, 0.9, 1.1)),
      boardMed = Some(1.01)))
    assert(!f.contains("raw_breach"))
    assert(f("board_median").toDouble === 1.01 +- 0.001)
    assert(!f("bench_verdict").contains("adjudication"))
  }

  test("a partial battery never emits raw_breach: partial ratios are not a gate reading") {
    val f = parse(Bench.gateVerdictJson(101.94, Some((1.0, 12, 0.9, 1.1)),
      nFailed = 2, boardMed = Some(1.0)))
    assert(f("gate_partial") == "true" && !f.contains("raw_breach"))
    val g = parse(Bench.gateVerdictJson(101.94, Some((1.0, 12, 0.9, 1.1)),
      subset = true, boardMed = Some(1.0)))
    assert(!g.contains("raw_breach"))
  }

  test("the median band is inclusive at both ends; the raw trigger is exclusive at 2x") {
    // raw 90/42.9 = 2.10x breaches; drift 1.2 keeps normalized 1.75x
    // under the gate so the verdict turns on the median alone
    def breach(med: Double) = parse(Bench.gateVerdictJson(
      90.0, Some((1.2, 12, 1.1, 1.3)), boardMed = Some(med)))("raw_breach")
    assert(breach(0.90) == "\"weather\"" && breach(1.15) == "\"weather\"")
    assert(breach(0.899) == "\"investigate\"" && breach(1.151) == "\"investigate\"")
    // exactly 2.0x raw does not breach (the gate is exclusive)
    assert(!parse(Bench.gateVerdictJson(85.8, Some((1.0, 12, 0.9, 1.1)),
      boardMed = Some(1.0))).contains("raw_breach"))
  }

  test("drift_alert and raw_breach adjudicate independently: the r16 class is weather too") {
    // r16 driver shape: drift 2.215 (alert), raw 2.94x, board at epoch
    val f = parse(Bench.gateVerdictJson(125.95, Some((2.215, 12, 1.14, 4.93)),
      boardMed = Some(1.02)))
    assert(f("drift_alert") == "true" && f("raw_breach") == "\"weather\"")
  }

  test("boardMedian: odd/even medians, degraded inputs give None never a crash") {
    assert(Bench.boardMedian(Map("a" -> 2.0, "b" -> 4.0, "c" -> 9.0),
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0), 2.0).get === 1.0 +- 1e-9)
    assert(Bench.boardMedian(Map("a" -> 1.0, "b" -> 3.0),
      Map("a" -> 1.0, "b" -> 1.0), 1.0).get === 2.0 +- 1e-9)
    assert(Bench.boardMedian(Map("a" -> 1.0), Map.empty, 1.0).isEmpty)
    assert(Bench.boardMedian(Map("a" -> 1.0), Map("a" -> 1.0), 0.0).isEmpty)
    assert(Bench.boardMedian(Map.empty, Map("a" -> 1.0), 1.0).isEmpty)
    // zero/negative refs are skipped, not divided by
    assert(Bench.boardMedian(Map("a" -> 1.0, "b" -> 6.0),
      Map("a" -> 0.0, "b" -> 2.0), 1.0).get === 3.0 +- 1e-9)
  }

  test("breach fields survive a JSON round-trip (escaping holds)") {
    val line = "{\"value\":101.94" + Bench.gateVerdictJson(101.94,
      Some((1.4738, 12, 1.19, 2.63)), boardMed = Some(1.036)) + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("raw_breach").asText() == "weather")
    assert(node.get("board_median").asDouble() === 1.036 +- 0.001)
  }

  // --- query_excursions (VERDICT r17 #3): single-query stall labels ---

  test("excursion keys go through the shared escaper: a hostile name cannot corrupt the line") {
    val frag = Bench.excursionsJson(
      Map("q\"ro\\gue" -> 9.9), Map("q\"ro\\gue" -> 1.0), 1.0)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{\"value\":1" + frag + "}")
    assert(node.get("n_excursions").asInt() == 1)
    assert(node.get("query_excursions").get("q\"ro\\gue").asDouble() === 9.9 +- 0.01)
  }

  test("a stall is flagged with its drift-adjusted ratio; in-band queries are not") {
    // r17 leg 9's shape: board drift 0.993, p7_null_fill at 0.539s vs
    // its ~0.053s reference (10x class) while siblings sit in-band
    val refs = Map("p7_null_fill" -> 0.0525, "a10_pivot" -> 0.40, "x32_pagerank" -> 3.9)
    val timed = Map("p7_null_fill" -> 0.539, "a10_pivot" -> 0.43, "x32_pagerank" -> 4.2)
    val f = parse(Bench.excursionsJson(timed, refs, 0.993))
    assert(f("n_excursions") == "1")
    assert(f("query_excursions").contains("\"p7_null_fill\":10.3"))
    assert(!f("query_excursions").contains("a10_pivot") &&
      !f("query_excursions").contains("x32_pagerank"))
  }

  test("the absolute floor suppresses tiny-query noise even past the 3x factor") {
    // 20ms query reading 70ms is 3.5x but only 50ms of excess: noise
    val f = parse(Bench.excursionsJson(Map("q" -> 0.070), Map("q" -> 0.020), 1.0))
    assert(f("n_excursions") == "0" && f("query_excursions") == "{}")
    // same ratio at stall magnitude (0.5s excess) IS flagged
    val g = parse(Bench.excursionsJson(Map("q" -> 0.70), Map("q" -> 0.20), 1.0))
    assert(g("n_excursions") == "1")
  }

  test("excursion factor is exclusive and drift-adjusted: a loaded board absorbs raw elevation") {
    // raw 3.2x but board drift 1.2 => adjusted 2.67: the container is
    // slow, not the query — no flag
    assert(parse(Bench.excursionsJson(Map("q" -> 3.2), Map("q" -> 1.0), 1.2))("n_excursions") == "0")
    // exactly 3.0 adjusted does NOT flag (exclusive, like the gate)
    assert(parse(Bench.excursionsJson(Map("q" -> 3.0), Map("q" -> 1.0), 1.0))("n_excursions") == "0")
    assert(parse(Bench.excursionsJson(Map("q" -> 3.01), Map("q" -> 1.0), 1.0))("n_excursions") == "1")
  }

  test("missing refs / missing query / bad drift degrade to no field or no flag, never a crash") {
    // no reference data at all: the FIELD is absent (not evaluated)
    assert(Bench.excursionsJson(Map("q" -> 9.9), Map.empty, 1.0) == "")
    assert(Bench.excursionsJson(Map("q" -> 9.9), Map("q" -> 1.0), 0.0) == "")
    // a query without a reference is skipped, siblings still evaluated
    val f = parse(Bench.excursionsJson(
      Map("new_query" -> 9.9, "q" -> 9.9), Map("q" -> 1.0), 1.0))
    assert(f("n_excursions") == "1" && !f("query_excursions").contains("new_query"))
    // a zero/negative committed reference can never divide or flag
    assert(parse(Bench.excursionsJson(Map("q" -> 9.9), Map("q" -> 0.0), 1.0))("n_excursions") == "0")
  }

  test("a pathological leg lists only the worst offenders; the true count and cap are explicit") {
    // 12 queries all past the rule (a container pathology, not a
    // stall): the compact totals line must stay bounded, so only the
    // 8 worst ratios are listed — with the TRUE count and an explicit
    // truncation flag (no silent caps)
    val refs = (1 to 12).map(i => s"q$i" -> 1.0).toMap
    val timed = (1 to 12).map(i => s"q$i" -> (3.0 + i)).toMap // ratios 4..15
    val f = parse(Bench.excursionsJson(timed, refs, 1.0))
    assert(f("n_excursions") == "12")
    assert(f("excursions_truncated") == "true")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{\"x\":1" + Bench.excursionsJson(timed, refs, 1.0) + "}")
    val listed = scala.jdk.CollectionConverters
      .IteratorHasAsScala(node.get("query_excursions").fieldNames()).asScala.toSet
    assert(listed.size == 8)
    // the worst 8 by ratio are q5..q12 (ratios 8..15)
    assert(listed == (5 to 12).map(i => s"q$i").toSet)
    // an unflagged-cap leg carries no truncation field at all
    val g = Bench.excursionsJson(Map("q" -> 9.9), Map("q" -> 1.0), 1.0)
    assert(!g.contains("excursions_truncated"))
  }

  test("excursions fragment is valid JSON when wrapped; names sorted for diffability") {
    val frag = Bench.excursionsJson(
      Map("z_q" -> 9.0, "a_q" -> 9.0), Map("z_q" -> 1.0, "a_q" -> 1.0), 1.0)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{\"value\":1" + frag + "}")
    assert(node.get("n_excursions").asInt() == 2)
    val names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(node.get("query_excursions").fieldNames()).asScala.toSeq
    assert(names == Seq("a_q", "z_q"))
    assert(node.get("query_excursions").get("a_q").asDouble() === 9.0 +- 0.001)
  }

  test("the fragment is valid JSON when wrapped (escaping holds)") {
    val line = "{\"value\":125.95" +
      Bench.gateVerdictJson(125.95, Some((2.215, 12, 1.1363, 4.9264))) + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("drift_alert").asBoolean())
    assert(node.get("bench_verdict").asText().nonEmpty)
    assert(node.get("raw_gate_ratio").asDouble() > 2.9)
  }
}
