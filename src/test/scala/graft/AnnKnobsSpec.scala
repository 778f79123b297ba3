package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity

/** The ANN shape constants (VERDICT r5 #5). The oracle-gated queries
  * already pin RESULTS at these values (any drift hash-mismatches 151
  * gates); this spec pins the values themselves and their mutual
  * consistency. */
class AnnKnobsSpec extends AnyFunSuite {

  test("defaults are the documented historical values") {
    assert(Similarity.Bands == 4)
    assert(Similarity.PlanesPerBand == 8)
    assert(Similarity.IvfCells == 16)
    assert(Similarity.IvfProbe == 2)
    assert(Similarity.IvfTargetOcc == 128)
    assert(Similarity.NearDupCos == 0.40)
  }

  test("plane table and shift widths stay consistent with the knob values") {
    // 1L << r in the multiprobe path needs r < PlanesPerBand <= 30;
    // the plane literal table must cover Bands * PlanesPerBand rows
    assert(Similarity.PlanesPerBand <= 30)
    assert(Similarity.planeWeights.size == Similarity.Bands * Similarity.PlanesPerBand)
    assert(Similarity.planeWeights.forall(_.size == Similarity.Dim))
    assert(Similarity.IvfProbe <= Similarity.IvfCells)
  }

  test("Lloyd-trained probe width clamps to the trained cell count " +
    "(ADVICE r11)") {
    // IvfProbe is bounded by IvfCells (16), but the trained quantizer
    // has LloydK = 8 cells; the effective width on Lloyd-backed queries
    // is the explicit clamp, not a silent no-op
    assert(Similarity.LloydProbe ==
      math.min(Similarity.IvfProbe, 8))
    assert(Similarity.LloydProbe <= 8)
  }
}
