package graft.multimodal

import graft.{QueryRegistry, SparkSuite, Tables}

/** Pins the audio/video admission screens' channel separation — each
  * fixture must exercise BOTH verdicts (re-encode wave caught dup,
  * fresh wave admitted new), the video re-export wave must screen at
  * Hamming 0 (the contour fingerprint's brightness invariance is the
  * channel's reason to exist), and both channels must share the ONE
  * media-index kernel (probe-after-upsert == rebuild carries over from
  * ImageIndexSpec because the kernel is the same code; here the pin is
  * that each channel's fingerprint actually feeds it sensibly).
  */
class MediaProbeSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def rows(q: String) =
    QueryRegistry.byName(q).run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))

  test("audio screen: re-levelings dup, fresh clips new") {
    val vs = rows("dd_audio_probe")
    val (reenc, fresh) = vs.partition(_._1 < 600000)
    assert(reenc.nonEmpty && fresh.nonEmpty)
    assert(reenc.count(_._2 == "dup") * 10 >= reenc.length * 9,
      "gain-8 re-levelings are not screening dup — the WHT fingerprint " +
        "lost its gain robustness")
    assert(fresh.count(_._2 == "new") * 10 >= fresh.length * 9,
      "fresh clips are not screening new — the fingerprint space " +
        "collapsed (the image-channel dimension degeneracy)")
  }

  test("video screen: brightness re-exports dup at Hamming 0, fresh new") {
    val vs = rows("dd_video_probe")
    val (reenc, fresh) = vs.partition(_._1 < 600000)
    assert(reenc.nonEmpty && fresh.nonEmpty)
    // the v=3 re-export is hash-identical by construction — every one
    // must screen dup with best_hamming == 0
    assert(reenc.forall(r => r._2 == "dup" && r._3 == 0),
      "a brightness re-export did not screen dup at Hamming 0 — the " +
        "contour fingerprint lost its brightness invariance")
    assert(fresh.count(_._2 == "new") * 10 >= fresh.length * 9,
      "fresh clips are not screening new")
  }

  test("audio/video upsert: probe-after-append == full-corpus screen") {
    // the r13 verdict's gate for the new maintenance legs: a base
    // build minus the %5==0 slice plus the nightly append must be
    // indistinguishable, to a prober, from the index built over the
    // full corpus — the probe rows' oracles pin this against DuckDB;
    // here the in-JVM parity with the probe row pins it structurally
    assert(rows("dd_audio_upsert").sameElements(rows("dd_audio_probe")),
      "audio probe-after-upsert != full-corpus screen")
    assert(rows("dd_video_upsert").sameElements(rows("dd_video_probe")),
      "video probe-after-upsert != full-corpus screen")
  }

  test("audio/video delete: purged clips stop matching, survivors keep") {
    // purge removes candidates only, so on BOTH channels no verdict
    // can move new → dup after the deletion
    def monotone(delQ: String, probeQ: String) = {
      val before = rows(probeQ).map(r => r._1 -> r).toMap
      val after  = rows(delQ)
      assert(after.nonEmpty, s"$delQ empty")
      after.foreach { case (id, st, _) =>
        assert(!(before(id)._2 == "new" && st == "dup"),
          s"$delQ: $id flipped new→dup after a pure deletion")
      }
      (before, after)
    }
    // AUDIO: gain re-levelings match different cluster members at
    // different Hamming distances, so losing the non-representatives
    // must observably weaken (or lose) at least one match
    val (aBefore, aAfter) = monotone("dd_audio_index_delete",
      "dd_audio_probe")
    val weakened = aAfter.filter { case (id, st, h) =>
      val (_, st0, h0) = aBefore(id)
      (st0 == "dup" && st == "new") || h > h0
    }
    assert(weakened.nonEmpty,
      "dd_audio_index_delete is indistinguishable from the unpurged " +
        "screen — the purge did not propagate")
    // VIDEO: every purged clip is hash-IDENTICAL to its kept
    // representative (the brightness invariance that defines the
    // channel), so the screen must be EXACTLY invariant under the
    // purge — the from-scratch-over-survivors semantics the oracle
    // recomputes, pinned here as equality rather than weakening
    val (vBefore, vAfter) = monotone("dd_video_index_delete",
      "dd_video_probe")
    assert(vAfter.forall(r => vBefore(r._1) == r),
      "dd_video_index_delete diverged from the unpurged screen — but " +
        "purged videos are hash-identical to their kept reps, so the " +
        "screen must be invariant")
  }

  test("the shared kernel serves all three channels (replay stable)") {
    Seq("dd_audio_probe", "dd_video_probe").foreach { q =>
      val a = rows(q); val b = rows(q)
      assert(a.nonEmpty && a.sameElements(b), s"$q replay diverged")
    }
    // the three corpora are the same ids through three fingerprints —
    // the indexes must not alias each other's families
    val idxs = Multimodal.channels.map(Multimodal.buildMediaIndex(spark, dir, _))
    assert(idxs.toSet.size == 3, "media index families collide")
  }
}
