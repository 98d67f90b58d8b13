package graft.streaming

import graft.{QueryRegistry, SparkSuite, Tables}
import graft.multimodal.Multimodal.{Audio, Image, MediaChannel, Video}
import graft.multimodal.{Multimodal => MM}

/** Pins `dd_<c>_stream_ingest`'s screen-then-ingest contract, one suite
  * per media channel, with the planted cross-batch wave: night 2
  * re-encodes night 1's FRESH items — at least one must screen 'dup'
  * in the loop's log while the frozen counterfactual (the build-time
  * index, never upserted) screens it 'new', which is possible ONLY
  * because night 1's admissions were ingested between the batches.
  *
  * The channel table is the three suites below: `wave` names the
  * channel's re-encode in the failure messages, and `dupAtHammingZero`
  * marks a channel whose re-encodes are hash-IDENTICAL to their twins
  * (video: a brightness shift cancels out of the contour fingerprint),
  * so every flip must also screen at Hamming 0.
  */
abstract class MediaStreamIngestSpec(ch: MediaChannel, wave: String,
    dupAtHammingZero: Boolean) extends SparkSuite {

  private val dir = sf("sf0.001")

  private def logRows() =
    QueryRegistry.byName(s"dd_${ch.name}_stream_ingest").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))

  private val atZero = if (dupAtHammingZero) " at Hamming 0" else ""

  test(s"night 2 catches night 1's admissions$atZero; a frozen index cannot") {
    val rows = logRows()
    val d = Tables(spark, dir).documents

    // point-in-time: night 1's logged verdicts equal the stateless
    // screen against the build-time index (nothing had been ingested
    // yet when night 1 ran)
    val night1 = rows.filter(_._1 < 700000)
    val frozenIdx = MM.buildMediaIndex(spark, dir, ch)
    val screen1 = MM.probeMediaIndex(spark, frozenIdx,
        ch.hashes(ch.night1(d)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(night1.sameElements(screen1),
      "night 1's log != the stateless screen — the log is not " +
        "point-in-time")

    // the cross-batch pin: some night-2 re-encode (700000 ≤ id <
    // 800000) of an ADMITTED night-1 fresh item is 'dup' in the log
    // but 'new' against the frozen index
    val night2 = rows.filter(_._1 >= 700000).map(t => t._1 -> t).toMap
    val frozen2 = MM.probeMediaIndex(spark, frozenIdx,
        ch.hashes(ch.night2(d)))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    val flips = night2.keys.filter(m => m < 800000 &&
      night2(m)._2 == "dup" && frozen2(m)._1 == "new")
    assert(flips.nonEmpty,
      s"no night-2 $wave is caught ONLY because of night-1 ingest — " +
        "the fixture no longer distinguishes the ingest loop from a " +
        "stateless screen")
    flips.foreach { m =>
      // a hash-identical re-encode must screen at exactly Hamming 0
      if (dupAtHammingZero)
        assert(night2(m)._3 == 0,
          s"$wave $m screened dup at Hamming ${night2(m)._3}, not 0 — " +
            "the contour fingerprint lost its brightness invariance")
      // and the admitted originals really were fresh: each flip's twin
      // (id − 100000) screened 'new' in night 1
      val twin = night1.find(_._1 == m - 100000)
      assert(twin.exists(_._2 == "new"),
        s"flip $m has no admitted night-1 twin — the pin is vacuous")
    }
  }

  test("replay is deterministic (applied once per generation)") {
    val a = logRows()
    val b = logRows()
    assert(a.nonEmpty && a.sameElements(b), "replay diverged")
  }
}

/** Image: night 2 re-exports (v = 1, same canvas) night 1's fresh
  * images. */
class ImageStreamIngestSpec
    extends MediaStreamIngestSpec(Image, "re-encode", dupAtHammingZero = false)

/** Audio: night 2 re-levels (gain 2, same base g) night 1's fresh
  * clips. */
class AudioStreamIngestSpec
    extends MediaStreamIngestSpec(Audio, "re-level", dupAtHammingZero = false)

/** Video: night 2 brightness-re-exports (v = 1, same base g) night 1's
  * fresh clips — hash-IDENTICAL by the contour fingerprint's
  * invariance. */
class VideoStreamIngestSpec
    extends MediaStreamIngestSpec(Video, "re-export", dupAtHammingZero = true)
