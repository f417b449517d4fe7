package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins for Bench's pure decision logic and its JSON key sets (the timed
  * paths themselves are exercised by full Bench runs). */
class BenchSpec extends AnyFunSuite {

  test("timingRegressions flags >1.5x moves above the noise floors, slowest first") {
    val prev = Map(
      "big_slow" -> 1000L,    // 1000 -> 1600: flagged
      "big_ok" -> 1000L,      // 1000 -> 1400: under 1.5x
      "tiny" -> 50L,          // 50 -> 400: prev under the 100 ms floor
      "small_latest" -> 150L, // 150 -> 280: latest under the 300 ms floor
      "huge" -> 2000L,        // 2000 -> 9000: flagged, slowest
      "gone" -> 500L)         // absent from latest: ignored
    val latest = Map(
      "big_slow" -> 1600L, "big_ok" -> 1400L, "tiny" -> 400L,
      "small_latest" -> 280L, "huge" -> 9000L,
      "new_entry" -> 5000L)   // absent from prev: ignored (no baseline)
    val got = Bench.timingRegressions(latest, prev)
    assert(got === Seq(("huge", 2000L, 9000L), ("big_slow", 1000L, 1600L)))
  }

  test("timingRegressions boundary: exactly 1.5x is NOT a regression") {
    assert(Bench.timingRegressions(Map("e" -> 300L), Map("e" -> 200L)).isEmpty)
    assert(Bench.timingRegressions(Map("e" -> 301L), Map("e" -> 200L)).nonEmpty)
  }

  /** Keys a CompactionBench record carries instead of Bench's sidecar. */
  private val movedKeys = Set("compact_tuner_arm_mb", "compact_tuner_episodes",
    "flood_10x_default_sec", "flood_10x_tuned_sec", "stf_flood_10x_default",
    "stf_flood_10x_tuned", "tuner_ab", "minhash_10x_stages", "bpe_encode_10x_sec",
    "bpe_encode_10x_tokens")

  private def keys(json: String): Set[String] =
    Json.read(json).fieldNames.asScala.toSet

  private def committed(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** A contended run (every block noisy) with stored slots and a Verify
    * timing diff: the shape of the committed round-18 records. */
  private val fixture = {
    def block(name: String) = Bench.BlockResult(name,
      Bench.Headline.map(q => q -> Seq(0.10, 0.20, 0.15)))
    Bench.BenchResult(block("tuned"), block("aqe"), Some(block("sf10x")),
      tunedBlockSpreads = Seq(0.3, 0.2), floor = 0.011, stf = 0.25, stfUncompacted = 0.5,
      loadStart = "3.1", loadEnd = "2.9", loadavgBlocks = Seq("tuned block 1" -> "3.0"),
      gateExhausted = Nil,
      slots = Seq("tuned" -> Some(Json.read("""{"total":2.6,"sf":"x"}""")),
        "aqe" -> None, "sf10x" -> None),
      verifyTimingDiff = Some(Bench.TimingDiff("x@3", 1, Seq(Bench.Regression("e", 100, 400)))),
      inflate = 10, sf = "testdata/sf0.1")
  }

  test("headline keys equal the committed BENCH_r18 parsed line's keys") {
    val parsed = Json.read(committed("BENCH_r18.json")).get("parsed").fieldNames.asScala.toSet
    assert(keys(Json.write(fixture.headline)) === parsed)
    val totals = Json.read(Json.write(fixture.headline)).get("clean_reference_totals")
    assert(totals.get("tuned").asDouble === 2.6 && totals.get("aqe").isNull)
  }

  test("sidecar keys equal the committed bench_dispersion.json's minus the moved keys") {
    val r18 = keys(committed("bench_dispersion.json"))
    assert(movedKeys.subsetOf(r18))
    assert(keys(Json.write(fixture.record)) === r18 -- movedKeys)
  }

  test("a CompactionBench record carries exactly the moved keys") {
    import compaction.CompactionBench._
    val m = scala.collection.immutable.ListMap("aqe" -> 1.0, "static128" -> 2.0, "tuner" -> 1.0)
    val rec = Record(32, Seq(EpisodeRow(0, 1.5, 0.0, 183.1, 1.5)), 1.4, 1.4, 0.0, 0.0,
      TunerAb(32, m, m, m, m), Seq(StageRow(7, 987, 8, 0, 10, 20, 1)), 1.2, 1000L)
    assert(keys(Json.write(rec)) === movedKeys)
  }
}
