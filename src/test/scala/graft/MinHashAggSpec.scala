package graft

import org.apache.spark.sql.functions._

import graft.functions.{MinHashAgg, TextHash}
import graft.io.Tables

/** The incremental MinHash aggregator must produce the same signatures as
  * the array-expression form, including under repartitioning (partial
  * buffers merge by element-wise min). */
class MinHashAggSpec extends SparkSpec {

  test("aggregator signature equals array-expression signature") {
    val sh = TextHash.addShingleHashes(
      Tables.load(spark, sf001, "documents"), col("text"))
      .select(col("doc_id"), col("hs"))
    val viaArray = sh.select(col("doc_id"),
      array((0 until TextHash.K).map(k =>
        TextHash.minhash(col("hs"), k)): _*).as("sig"))
    val viaAgg = sh
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .repartition(13) // exercise partial-buffer merges
      .groupBy("doc_id")
      .agg(MinHashAgg.minhashSig(col("h")).as("sig"))
    val joined = viaArray.as("a")
      .join(viaAgg.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.sig") =!= col("b.sig"))
    assert(joined.count() == 0)
    assert(viaAgg.count() == viaArray.count())
  }

  test("fused signature kernel (r15) equals the composed " +
    "array_min(transform(...)) spelling, empty-hs nulls included") {
    import spark.implicits._
    Tables.ensureSessionRegistered(spark)
    val sh = TextHash.addShingleHashes(
      Tables.load(spark, sf001, "documents"), col("text"))
      .select(col("doc_id"), col("hs"))
      // plant the <3-token case: an EMPTY shingle set must yield a
      // 16-slot all-null signature in both spellings
      .unionByName(Seq((-1L, Seq.empty[Long])).toDF("doc_id", "hs"))
      // and a NULL shingle set: the spellings differ in shape there (the
      // native function returns NULL, the composed one K null slots) but
      // agree on every slot a consumer reads
      .unionByName(Seq((-2L, Option.empty[Seq[Long]])).toDF("doc_id", "hs"))
    val composed = sh.select(col("doc_id"),
      array((0 until TextHash.K).map(k =>
        TextHash.minhash(col("hs"), k)): _*).as("sig"))
    val fused = sh.select(col("doc_id"), call_function(
      graft.functions.GraftMinhashSig.FunctionName, col("hs")).as("sig"))
    val diverged = composed.as("a")
      .join(fused.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.doc_id") =!= -2L && !(col("a.sig") <=> col("b.sig")))
    assert(diverged.count() == 0)
    def sigOfNull(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") === -2L)
    assert(sigOfNull(fused).select("sig").head().isNullAt(0),
      "NULL shingle set: the native function must return NULL")
    val composedSlots = sigOfNull(composed).select(explode(col("sig")))
      .collect()
    assert(composedSlots.length == TextHash.K &&
      composedSlots.forall(_.isNullAt(0)),
      "NULL shingle set: the composed spelling must return K null slots")
    for ((name, df) <- Seq("composed" -> composed, "fused" -> fused)) {
      val reads = sigOfNull(df)
        .select((0 until TextHash.K).map(k => col("sig")(k)): _*).head()
      assert((0 until TextHash.K).forall(reads.isNullAt),
        s"NULL shingle set: every sig[k] read must be NULL ($name)")
    }
    val empty = fused.filter(col("doc_id") === -1L)
      .select(explode(col("sig"))).collect()
    assert(empty.length == TextHash.K && empty.forall(_.isNullAt(0)),
      "empty shingle set must produce K null slots")
  }
}
