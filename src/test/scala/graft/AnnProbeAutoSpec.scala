package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity
import graft.tools.ClusteredEmbFixture

/** The statistics-derived nprobe (r14, VERDICT r13 next #1): the probe
  * width is calibrated from a bounded probe sample — max over (sample
  * query, true neighbor) pairs of the rank the neighbor's cell holds in
  * the query's anchor ranking — instead of the fixed `IvfProbe`
  * width. The oracle-gated queries pin the derivation and the serve at
  * sf0.01; this spec pins the behavior the derivation exists FOR:
  * on clustered geometry it stays narrow, on held-out queries the
  * derived width still serves, and the clamp arithmetic holds. */
class AnnProbeAutoSpec extends AnyFunSuite with SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"
  private val byName = Similarity.all.map(q => q.name -> q).toMap

  test("clustered geometry derives a NARROW probe and serves exact " +
      "top-3 at it (the sizing pair's division of labor)") {
    val dir = "target/clustered-emb-fixture-probe"
    ClusteredEmbFixture.write(spark, dir)
    // 500 vecs / occ 128 → 4 derived cells over 10 clusters: too few
    // anchors to carve the clusters cleanly, so the sample honestly
    // demands MOST cells — but still strictly narrower than probe-all
    // (the scaled leg below is where the derivation's value shows)
    val cells = Similarity.derivedIvfCells(spark, dir)
    val p = Similarity.derivedIvfProbe(spark, dir)
    assert(p >= 1 && p < cells,
      s"clustered sample should derive below probe-all, got $p of $cells")
    val served = byName("q_ann_ivf_probe_auto").fn(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = byName("q_cosine_topk").fn(spark, dir)
      .filter(col("rnk") <= 3).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact,
      "derived-width serve must recover the exact top-3 on the sample")
  }

  test("at scale the clustered derivation stays NARROW while cells " +
      "grow — the knob pair's division of labor (r13 study, automated)") {
    // 10k vecs / occ 128 → 79 derived cells; each subgroup holds 100
    // near-dups spread over ~1 cell's worth of geometry, so the sample
    // finds its siblings within a few sister cells — the width the r13
    // study had to HAND-SET via the probe width at the 25× octave
    val dir = "target/clustered-emb-scaled-probe"
    ClusteredEmbFixture.writeScaled(spark, dir, members = 100)
    val cells = Similarity.derivedIvfCells(spark, dir)
    assert(cells == 79, s"10k vecs at occ 128 should derive 79, got $cells")
    val p = Similarity.derivedIvfProbe(spark, dir)
    assert(p >= 1 && p <= 4,
      s"clustered 10k sample should derive a narrow probe (≤4), got $p")
    val served = byName("q_ann_ivf_probe_auto").fn(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = byName("q_cosine_topk").fn(spark, dir)
      .filter(col("rnk") <= 3).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact,
      "derived-width serve must recover the exact top-3 on the sample")
  }

  test("uniform sf0.01 honestly derives probe-all (structure-free " +
      "noise: no sublinear probe holds recall — r9/r13 conclusion)") {
    val cells = Similarity.derivedIvfCells(spark, sf01)
    val p = Similarity.derivedIvfProbe(spark, sf01)
    assert(cells == 4 && p == 4,
      s"uniform 500-vec corpus: expected derive 4 of 4 cells, got $p of $cells")
  }

  test("report and serve agree on the derived width (one derivation, " +
      "two consumers)") {
    val rep = byName("q_ann_probe_auto").fn(spark, sf01).head()
    val repP = rep.getLong(rep.fieldIndex("derived_nprobe"))
    val serveP = byName("q_ann_ivf_probe_auto").fn(spark, sf01)
      .select("nprobe").distinct().collect().map(_.getLong(0)).toSeq
    assert(serveP == Seq(repP))
    // clamp: never past the derived cell count, never below 1
    val cellsN = rep.getLong(rep.fieldIndex("derived_cells"))
    assert(repP >= 1 && repP <= cellsN)
  }

  test("join-based Lloyd assignment is value-identical to the literal " +
      "projection at any k (the derived-k dispatch, r14 octave fix)") {
    // the resize chain's derived k grows with the corpus; above
    // LloydLiteralMax the literal-centroid expression (k×64 constants
    // baked into ONE generated projection) is replaced by a broadcast
    // join — same integer d2, same (d2, cl) argmin tiebreak, so the
    // two forms must agree row-for-row, including on distance TIES
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val codes = (0L until 300L).map { id =>
      (id, Seq.fill(64)(rnd.nextInt(17).toLong - 8))
    }.toDF("vec_id", "c").cache()
    for (k <- Seq(8, 20, 41)) {
      val cents = Similarity.lloydSeedN(codes, k)
      val lit = Similarity.lloydAssign(codes, cents)
        .select("vec_id", "cl", "d2").collect().map(_.toSeq).sortBy(_.toString)
      val join = Similarity.lloydAssignJoin(codes, cents)
        .select("vec_id", "cl", "d2").collect().map(_.toSeq).sortBy(_.toString)
      assert(lit.toSeq == join.toSeq, s"assignment forms diverged at k=$k")
      val scaled = Similarity.lloydAssignScaled(codes, cents)
        .select("vec_id", "cl", "d2").collect().map(_.toSeq).sortBy(_.toString)
      assert(scaled.toSeq == lit.toSeq, s"dispatch diverged at k=$k")
    }
  }

  test("held-out queries (outside the calibration sample) serve at the " +
      "derived width through the same code path") {
    val dir = "target/clustered-emb-fixture-probe"
    ClusteredEmbFixture.write(spark, dir)
    val p = Similarity.derivedIvfProbe(spark, dir)
    val held = Similarity.ivfProbeAutoServeFor(spark, dir,
      "vec_id >= 10 AND vec_id < 20")
    val rows = held.collect()
    assert(rows.length == 30, s"10 held-out queries × top-3, got ${rows.length}")
    assert(rows.forall(_.getLong(rows.head.fieldIndex("nprobe")) == p))
    val qids = rows.map(_.getLong(rows.head.fieldIndex("query_id"))).toSet
    assert(qids == (10L until 20L).toSet)
  }

  test("the registered canary reports non-trivial hits at a NARROW " +
      "derived width on clustered geometry (the r14 held-out floor)") {
    // the registered gate's corpus is uniform (derived width =
    // probe-all, hits at the ceiling by construction); the canary's
    // VALUE is on clustered data where the width derives narrow — the
    // SCALE.md r14 trajectory measured ≥29/30 there, so pin ≥27/30
    // with the honest 1×-wobble headroom (max-over-sample is a floor
    // estimator; one boundary neighbor may sit outside the witnessed
    // cells)
    val dir = "target/clustered-emb-fixture-probe"
    ClusteredEmbFixture.write(spark, dir)
    val p = Similarity.derivedIvfProbe(spark, dir)
    assert(p < Similarity.derivedIvfCells(spark, dir),
      "fixture must derive a narrow width or the canary proves nothing")
    val rep = Similarity.qAnnProbeCanary.fn(spark, dir).collect()
    assert(rep.length == 10)
    assert(rep.forall(_.getLong(2) == p),
      "the canary must report the width it served at")
    val total = rep.map(_.getLong(1)).sum
    assert(total >= 27,
      s"held-out hits@3 $total/30 below the clustered floor at width $p")
    assert(rep.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 3))
  }
}
