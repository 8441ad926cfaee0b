package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The trained linear quality head: convergence (it must LEARN, not
  * echo the base rate), head shape, serve parity, and the map-only
  * scoring plan. Engine-independence of the training arithmetic is the
  * oracle gate's job (the DuckDB CTE chain replays all [[QualityClassifier.Steps]]
  * steps); these specs pin the semantics the oracle cannot see.
  */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("training beats the base rate: accuracy and balanced accuracy floors") {
    val rows = QualityClassifier.scored(spark, sf)
      .select("label", "pred").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Kernels.retireCaches()
    val n = rows.length
    val npos = rows.count(_._1 == 1L)
    val base = math.max(npos, n - npos).toDouble / n
    val acc = rows.count(r => r._1 == r._2).toDouble / n
    val tpr = rows.count(r => r._1 == 1L && r._2 == 1L).toDouble / npos
    val tnr = rows.count(r => r._1 == 0L && r._2 == 0L).toDouble / (n - npos)
    val bal = (tpr + tnr) / 2
    info(f"n=$n base=$base%.3f acc=$acc%.3f balanced=$bal%.3f")
    // the labels are ~80/20, so plain accuracy can hit ~0.81 by
    // predicting the majority class — the BALANCED floor is the one
    // that proves a learned boundary (majority-class balanced acc is
    // exactly 0.5). Measured at this tier: acc 0.862, balanced 0.837.
    assert(acc > base + 0.03,
      f"accuracy $acc%.3f must beat the base rate $base%.3f")
    assert(bal >= 0.80,
      f"balanced accuracy $bal%.3f collapsed toward the majority-class 0.5")
  }

  test("head shape: 5 finite weights, the label's own signals dominate the distractor") {
    val w = QualityClassifier.classifier(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Kernels.retireCaches()
    assert(w.keySet == Set("bias", "x1_len", "x2_diversity", "x3_stop", "x4_chars"))
    assert(w.values.forall(v => !v.isNaN && !v.isInfinite))
    // x1/x3 are components of the label's threshold; x4 (char band) is
    // the distractor the label never reads — a sound trainer puts
    // clearly more mass on the real signals
    assert(math.abs(w("x1_len")) > math.abs(w("x4_chars")),
      s"length signal must outweigh the distractor: $w")
    assert(w.values.map(math.abs).max > 0.5, s"training never moved: $w")
  }

  test("served twin equals the in-session scored query bit-for-bit") {
    val scored = QualityClassifier.scored(spark, sf).collect().map(_.toSeq)
    val served = QualityClassifier.served(spark, sf).collect().map(_.toSeq)
    Kernels.retireCaches()
    assert(served.nonEmpty && scored.toSeq == served.toSeq,
      "artifact-served scores must equal in-session scores exactly")
  }

  test("streaming scorer drains to the batch scorer bit-for-bit") {
    // frozen head + shared feature/score expressions: however the
    // source micro-batches the corpus, the drained scores must equal
    // the batch pass exactly (stateless map — nothing to commute)
    val batch = QualityClassifier.scored(spark, sf).collect().map(_.toSeq)
    val streamed = graft.streaming.DocStream.streamQualityClassifier(spark, sf)
      .collect().map(_.toSeq)
    Kernels.retireCaches()
    assert(streamed.nonEmpty && batch.toSeq == streamed.toSeq,
      "drained stream scores must equal the batch scorer exactly")
  }

  test("scored predictions are consistent with the emitted score") {
    val bad = QualityClassifier.scored(spark, sf)
      .filter((col("score") >= 0.5) =!= (col("pred") === 1L)).count()
    Kernels.retireCaches()
    assert(bad == 0L, s"$bad rows with pred inconsistent with score")
  }

  test("scoring plan is map-only: no join, no window, no corpus shuffle before the sort") {
    val p = QualityClassifier.scored(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    Kernels.retireCaches()
    // the head rides the task closure: the only wide op is the output
    // ordering — at 100 TB the scorer is embarrassingly parallel
    assert(!p.contains("Join"), s"scoring must not join:\n${p.take(800)}")
    assert(!p.contains("windowspecdefinition"), "scoring carries no window")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, // tree + details sections of the one sort exchange
      s"only the output-sort exchange may appear, got $exchanges:\n${p.take(800)}")
  }
}
