package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses only a 2,000-char tail of bench output — the gate
  * was silently unscored for two rounds when the metric line outgrew it.
  * This spec renders the slim line for the CURRENT query registry with
  * worst-case-width numbers, so adding queries that would overflow the
  * budget fails here instead of in the next round's scoring. */
class BenchContractSpec extends AnyFunSuite {

  test("slim metric line fits the driver tail with worst-case numbers") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // worst-case per-median width under msSlimQ(): EVERY median at the
    // 3-char maximum ("9.9"). The r15 registry growth proved the old
    // alternating 2/3-char synthetic was NOT worst case: real runs
    // render almost every median at 3 chars ("0.4"), and the real line
    // hit 2003 chars while the synthetic said 1934 — the exact silent
    // truncation this spec exists to catch, caught only by a live run
    val medians = names.map(n => n -> 9.94)
    val line = Bench.renderSlim(medians, 99999.9999, 99,
      "/root/testdata/sf0.1", 99.999)
    assert(line.length <= 1950,
      s"metric line ${line.length} chars leaves <50 headroom under the 2000-char driver tail " +
        "— shorten query names or drop per-query detail from the slim line")
  }

  test("slim-line field shape is pinned (ADVICE r15): exact top-level keys and value kinds") {
    // the slim stdout line is the driver-facing contract; r15 changed the
    // stream section's shape (objects -> bare rps) without a pin, so any
    // external consumer broke silently. This parses the rendered line and
    // pins the exact key set and value kinds — a shape change now has to
    // edit this test, i.e. be deliberate.
    val medians = Seq("q01_agg" -> 0.5, "q186_html_extract" -> 1.2)
    val line = Bench.renderSlim(medians, 97.2, 1,
      "/root/testdata/sf0.1", 1.234)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val keys = {
      val it = node.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result().toSet
    }
    // NO "stream": graft.Bench has no streaming section (streambench
    // measures the streaming pipeline). "sent" -> "vn"
    // in r17 (VERDICT r16 item 7): the sentinel-NORMALIZED total
    // replaced the raw sentinel (recoverable as anchor·value/vn; exact
    // pre/post medians live in the full JSON).
    assert(keys == Set("metric", "value", "unit", "vn", "queries",
      "err", "sf"), s"slim-line top-level keys drifted: $keys")
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").isNumber && node.get("vn").isNumber)
    // vn = value × (anchor / sentinel) to slim rounding (msSlim renders
    // whole seconds at >= 10, so the tolerance is the rendering tier's)
    assert(math.abs(node.get("vn").asDouble() -
      97.2 * Bench.sentinelAnchorSec / 1.234) < 0.5,
      s"vn must be the anchor-normalized total: ${node.get("vn")}")
    // a failed sentinel (<= 0) renders vn as the -1 marker, not NaN/Inf
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderSlim(medians, 97.2, 1, "x", -1.0))
      .get("vn").asInt() == -1)
    assert(node.get("sf").asText() == "sf0.1")
    // queries: bare-number keys WITHOUT leading zeros -> numeric medians
    assert(node.get("queries").get("1").isNumber)
    assert(node.get("queries").get("01") == null)
    assert(node.get("queries").get("186").isNumber)
    // err: a count capped at 9, never error text (text could overflow
    // the tail)
    assert(node.get("err").isInt && node.get("err").asInt() == 1)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderSlim(medians, 1.0, 23, "x", 0.2))
      .get("err").asInt() == 9, "err count must cap at one digit")
  }

  test("slim-line q-number prefixes are unique across the registry") {
    // renderSlim keys the stdout line by the ZERO-STRIPPED q-number
    // ("q01_x" -> "1"), so uniqueness must be checked on exactly that
    // keying (ADVICE r16): raw-prefix dedup would pass a future
    // "q1_x"/"q01_y" pair that renders duplicate JSON keys (one median
    // silently lost), and a hypothetical "q0_" name renders an EMPTY key
    val rendered = SparkEntry.queries.keys.toSeq
      .map(_.takeWhile(_ != '_').stripPrefix("q").dropWhile(_ == '0'))
    val dups = rendered.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate rendered q-number keys: ${dups.mkString(", ")}")
    assert(rendered.forall(_.nonEmpty),
      "a query name rendered an empty slim-line key (q0-class name)")
    // the registry map itself is merged with ++ across per-file maps — a
    // full-name collision there is equally silent (later map wins)
    val perFile = Seq(
      queries.ReferenceQueries.queries, queries.RelationalQueries.queries,
      queries.TextQueries.queries, queries.SimilarityQueries.queries,
      queries.TimeSeriesQueries.queries)
    assert(SparkEntry.queries.size == perFile.map(_.size).sum,
      "query-name collision across per-file registries (++ silently dropped one)")
  }

  test("cleanMedian takes the fast-side middle on even clean counts") {
    // VERDICT r14 item 3: with 3 reps and 1 tagged storm, the old
    // `clean(size/2)` picked the LARGER of the 2 clean passes — one
    // storm still swung the published number to the worse clean pass
    // (r14run5 q27: published 6.71 s against clean 4.11/6.71). The rule
    // is the LOWER median: even counts take the fast-side middle.
    assert(Bench.cleanMedian(Seq(6.71, 4.11), Seq(4.11, 6.71, 24.3)) == 4.11)
    // odd counts are the true middle either way
    assert(Bench.cleanMedian(Seq(3.0, 1.0, 2.0), Seq(1.0, 2.0, 3.0)) == 2.0)
    // no clean pass: fall back to the all-pass lower median
    assert(Bench.cleanMedian(Nil, Seq(9.0, 7.0, 8.0, 6.0)) == 7.0)
    // single clean pass is itself
    assert(Bench.cleanMedian(Seq(5.5), Seq(5.5, 30.0, 31.0)) == 5.5)
  }

  test("j3 JSON number rendering is locale-independent") {
    // ADVICE r14: the full-JSON per-pass arrays rendered through the `f`
    // interpolator, which uses the JVM default locale — a comma-decimal
    // host emitted `1,234` and broke the driver's JSON parse.
    // ADVICE r15: the default-locale mutation is JVM-GLOBAL; suites run
    // in parallel in one JVM, so any locale-sensitive formatting
    // elsewhere could observe GERMANY mid-test. All locale-mutating
    // tests must hold [[BenchContractSpec.localeLock]] for the full
    // mutate-assert-restore span (this is currently the only one).
    BenchContractSpec.localeLock.synchronized {
      val prev = java.util.Locale.getDefault
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        assert(Bench.j3(1.2345) == "1.234" || Bench.j3(1.2345) == "1.235")
        assert(!Bench.j3(1.2345).contains(","))
        assert(Bench.j3(0.5) == "0.500")
      } finally java.util.Locale.setDefault(prev)
    }
  }

  test("isStormPass tags the measured storm signatures and nothing else") {
    // the fresh-JVM recompile spike: JIT delta alone tags it
    assert(Bench.isStormPass(wall = 24.3, jitMs = 21000, gcMs = 500, minWall = 4.0))
    // the in-session deopt (r14run1 q55): big excess, small JIT, GC
    // under half the excess
    assert(Bench.isStormPass(wall = 35.8, jitMs = 4000, gcMs = 3800, minWall = 4.7))
    // a GC-bound slow pass is NOT a storm — the cost is attributed
    assert(!Bench.isStormPass(wall = 12.0, jitMs = 100, gcMs = 7000, minWall = 4.0))
    // ordinary jitter is not a storm
    assert(!Bench.isStormPass(wall = 4.6, jitMs = 300, gcMs = 200, minWall = 4.0))
  }

  test("ms renderer emits valid minimal JSON numbers") {
    assert(Bench.ms(0.0) == "0")
    assert(Bench.ms(1.0) == "1")
    assert(Bench.ms(0.31003) == "0.31")
    assert(Bench.ms(12.004) == "12")   // %.2f rounding
    assert(Bench.ms(3.14159) == "3.14")
    assert(Bench.ms(999.999) == "1000") // carries, still a valid number
  }
}

/** Shared lock for tests that mutate the JVM-global default Locale —
  * parallel suites in the same JVM must never observe a test locale
  * (ADVICE r15). */
object BenchContractSpec {
  val localeLock = new Object
}
