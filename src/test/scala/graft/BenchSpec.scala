package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The bench battery's load-gated self-adjudication machinery (r14):
  * pure-function tests with PLANTED load traces — no real minutes, no
  * real box load. The r13 protocol hole this closes: the adjudication
  * child launched inside the battery's own throttle window and
  * "confirmed" flags that cleared trivially once the box drained. */
class BenchSpec extends AnyFunSuite {

  private def trace(vals: Double*): () => Double = {
    val it = Iterator(vals: _*) ++ Iterator.continually(vals.last)
    () => it.next()
  }

  test("waitForLoadBelow: a draining box is waited out, then the child may launch") {
    var slept = 0L
    val (load, waited, recovered) = Bench.waitForLoadBelow(
      threshold = 4.0, maxWaitMs = 600000L,
      poll = trace(9.2, 7.5, 5.1, 3.4),
      sleepMs = 10000L, sleep = slept += _)
    assert(recovered, "the gate must open once load drops below the threshold")
    assert(load == 3.4)
    assert(waited == 30000L && slept == 30000L,
      "exactly three poll intervals were needed")
  }

  test("waitForLoadBelow: an immediately-idle box launches with zero wait") {
    var slept = 0L
    val (load, waited, recovered) = Bench.waitForLoadBelow(
      threshold = 4.0, maxWaitMs = 600000L,
      poll = trace(0.8), sleepMs = 10000L, sleep = slept += _)
    assert(recovered && load == 0.8 && waited == 0L && slept == 0L)
  }

  test("waitForLoadBelow: a box that never drains gives up at the bound and reports under-load") {
    var slept = 0L
    val (load, waited, recovered) = Bench.waitForLoadBelow(
      threshold = 4.0, maxWaitMs = 25000L,
      poll = trace(9.0), sleepMs = 10000L, sleep = slept += _)
    assert(!recovered, "a never-draining box must NOT report recovered")
    assert(load == 9.0)
    assert(waited == 25000L && slept == 25000L,
      "the wait must stop exactly at the bound (last interval clamped)")
  }

  test("waitForLoadBelow: an unreadable load (-1.0) opens the gate — no wait on boxes the JVM cannot meter") {
    val (load, waited, recovered) = Bench.waitForLoadBelow(
      threshold = 4.0, maxWaitMs = 600000L,
      poll = trace(-1.0), sleepMs = 10000L, sleep = _ => ())
    assert(recovered && load == -1.0 && waited == 0L,
      "getSystemLoadAverage returns -1.0 where unsupported; the gate must not spin on it")
  }

  test("batteryStartGate: a deliberately-loaded battery waits out the drain, then starts clean") {
    var slept = 0L
    val (waitedSec, underLoad) = Bench.batteryStartGate(
      fullBattery = true, loadMax = 2.0, maxWaitSec = 600L,
      poll = trace(10.3, 6.2, 3.1, 1.4), sleep = slept += _)
    assert(!underLoad, "the battery must start clean once the box drains")
    assert(waitedSec == 30L && slept == 30000L)
  }

  test("batteryStartGate: a box that never drains starts anyway, annotated under-load") {
    val (waitedSec, underLoad) = Bench.batteryStartGate(
      fullBattery = true, loadMax = 2.0, maxWaitSec = 20L,
      poll = trace(9.9), sleep = _ => ())
    assert(underLoad, "a never-draining box must start with the under-load annotation")
    assert(waitedSec == 20L, "the wait must stop exactly at the bound")
  }

  test("loadSuspectConfirms: only confirmed flags whose child-side load sample reached the gate become suspects") {
    val confirmed = Seq("a", "b", "c", "d")
    val childLoad = Map("a" -> 3.4, "b" -> 1.2, "c" -> 2.0, "d" -> 0.4)
    assert(Bench.loadSuspectConfirms(confirmed, childLoad, loadMax = 2.0) ==
      Seq("a", "c"), "load >= gate (inclusive) marks the verdict suspect")
    // a confirmed key with NO load sample (child died before sampling)
    // is NOT a suspect — nothing certifies a second chance would differ
    assert(Bench.loadSuspectConfirms(Seq("x"), Map.empty, 2.0).isEmpty)
    assert(Bench.loadSuspectConfirms(Seq.empty, childLoad, 2.0).isEmpty)
  }

  test("loadSuspectConfirms: a child reading materially worse than the battery is suspect regardless of its load sample (r16b)") {
    // the live case: t_decontaminate battery 1.74, child 3.79 at a
    // child load sample of 1.78 — under the 2.0 gate, yet the child
    // ran loaded (idle truth 0.64). The >1.2x-battery tell catches it.
    val confirmed = Seq("a", "b", "c")
    val childLoad = Map("a" -> 1.78, "b" -> 1.5, "c" -> 1.5)
    val battery = Map("a" -> 1.74, "b" -> 3.0, "c" -> 3.0)
    val child = Map("a" -> 3.79, "b" -> 3.1, "c" -> 3.7)
    assert(Bench.loadSuspectConfirms(confirmed, childLoad, 2.0, battery, child)
      == Seq("a", "c"),
      "child > 1.2x battery is suspect; child within 1.2x of battery (a real regression's shape) is not")
    // missing either reading -> the ratio tell cannot certify; only the
    // load tell remains
    assert(Bench.loadSuspectConfirms(Seq("a"), childLoad, 2.0,
      Map.empty, child).isEmpty)
    assert(Bench.loadSuspectConfirms(Seq("a"), childLoad, 2.0,
      battery, Map.empty).isEmpty)
  }

  test("mergeSecondChance: a suspect clearing fresh moves to cleared; one still >2x ships RECONFIRMED; an untimed suspect stays plain-confirmed") {
    val pins = Map("a" -> 1.0, "c" -> 1.0, "e" -> 1.0)
    // round 1: cleared = [z]; confirmed = [a, c, e]; suspects = [a, c, e]
    // round 2: a clears (1.5 <= 2x), c reproduces (9.0 > 2x), e untimed
    val (cleared, confirmed, reconfirmed) = Bench.mergeSecondChance(
      cleared = Seq("z"), confirmed = Seq("a", "c", "e"),
      suspects = Seq("a", "c", "e"), pins = pins,
      sec2 = Map("a" -> 1.5, "c" -> 9.0))
    assert(cleared == Seq("a", "z"), "the fresh-clear joins the cleared list")
    assert(confirmed == Seq("c", "e"),
      "the reproducer AND the untimed suspect stay confirmed — a failed re-time never silently clears")
    assert(reconfirmed == Seq("c"),
      "only a key >2x in BOTH fresh JVMs is reconfirmed — the untimed one is not claimed re-proven")
  }

  test("mergeSecondChance: non-suspect confirms are untouched by the second round") {
    val (cleared, confirmed, reconfirmed) = Bench.mergeSecondChance(
      cleared = Seq.empty, confirmed = Seq("clean_confirm", "suspect"),
      suspects = Seq("suspect"), pins = Map("suspect" -> 1.0),
      sec2 = Map("suspect" -> 0.9))
    assert(cleared == Seq("suspect") && confirmed == Seq("clean_confirm")
      && reconfirmed.isEmpty)
  }

  test("batteryStartGate: filtered/off-SF runs are never gated — the reproduce protocol starts when asked") {
    var polled = false
    val (waitedSec, underLoad) = Bench.batteryStartGate(
      fullBattery = false, loadMax = 2.0, maxWaitSec = 600L,
      poll = () => { polled = true; 99.0 }, sleep = _ => ())
    assert(waitedSec == 0L && !underLoad && !polled,
      "a key-filtered run (the adjudication child itself) must not wait on load")
  }

  test("Report: the full and slim JSON lines parse with duplicate-key detection on") {
    import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonParser}
    import com.fasterxml.jackson.databind.ObjectMapper
    val strict = new ObjectMapper(
      new JsonFactory().enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION))
    // the detector is really on: a repeated key is a parse error
    intercept[JsonParseException](strict.readTree("""{"a":1,"a":2}"""))
    val r = Bench.Report(total = 1.25, queries = Seq("k1" -> 0.5, "k2" -> 0.75),
      errors = Seq("k3"), flags = Seq("k1"), flagsConfirmed = Seq("k1"),
      adjRan = true, adjSec = Map("k1" -> 0.4), adj2Ran = true,
      adj2Sec = Map("k1" -> 0.45), warmBreakdown = Map("ivf" -> 2.0),
      keyLoad = Map("k1" -> 0.3, "k2" -> 0.2), adjKeyLoad = Map("k1" -> 0.1),
      adj2KeyLoad = Map("k1" -> 0.1), sf = "/data/sf0.1")
    val full = strict.readTree(r.fullJson)
    val slim = strict.readTree(r.slimJson("/tmp/out.json"))
    assert(full.get("adjudication2_under_load").asBoolean() == false)
    assert(slim.get("full_json").asText() == "/tmp/out.json")
    // the file artifact carries every slim field except the pointer to it
    val fullKeys = Iterator.from(full.fieldNames().asScala).toSet
    val slimKeys = Iterator.from(slim.fieldNames().asScala).toSet
    assert(slimKeys - "full_json" subsetOf fullKeys)
  }
}
