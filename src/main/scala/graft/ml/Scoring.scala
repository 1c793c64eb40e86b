package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Estimate
import graft.model.Tables
import graft.util.Scratch

/** Model-scoring stage: MLlib stand-ins for the reference's three
  * Keras heads over the feature vector
  * (reference: queue_time_predictions/estimate_queue.py:24-28 model
  * specs, :64-88 load + predict; the .h5 blobs are absent upstream,
  * .MISSING_LARGE_BLOBS:1-3, so even the reference can't ship real
  * weights).
  *
  *  - `queue_end_pos`: LinearRegression (regression head)
  *  - `queue_lanes`:   LogisticRegression, binary (0 → 1 lane, 1 → 2)
  *  - `queue_full`:    LogisticRegression probability in [0,1]
  *
  * Training targets are synthesized deterministically from the
  * embeddings table itself (the x-position target is an exact linear
  * function of the vector, so the regression head must recover it;
  * the two classification heads learn the embedded label parity/range).
  *
  * Scale design: `fit` runs once on the driver-coordinated training
  * set; `.transform` scoring is a per-row projection with the model
  * coefficients broadcast to executors — the MLlib equivalent of the
  * reference's "load model once, score every record" loop, and at
  * 100 TB a zero-shuffle map stage exactly like the Keras `.predict`
  * per image.
  */
object Scoring {

  /** Deterministic linear target the regression head must recover:
    * x_pos = 400 + 900·e₁ + 500·e₂ + 250·e₃ (spans the calibration
    * domain [33, 1117] for unit-ish embedding components). */
  private def xposTarget(e: org.apache.spark.sql.Column) =
    lit(400.0) +
      lit(900.0) * element_at(e, 1).cast("double") +
      lit(500.0) * element_at(e, 2).cast("double") +
      lit(250.0) * element_at(e, 3).cast("double")

  /** Featurized embeddings with synthetic training targets. */
  def trainingFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("features", array_to_vector(col("embedding")))
      .withColumn("t_xpos", xposTarget(col("embedding")))
      .withColumn("t_lanes", (col("label") % 2).cast("double"))
      .withColumn("t_full", (col("label") >= 8).cast("double"))

  /** Score the three heads and run the full E1–E9 estimation chain on
    * the model outputs — the reference pipeline with MLlib heads in
    * place of Keras. */
  def scoreAndEstimate(spark: SparkSession, dir: String): DataFrame = {
    import Estimate._
    val train = trainingFrame(spark, dir).cache()

    // S4 model-file load (estimate_queue.py:64-69 loads .h5 from
    // disk): persist the regression head and score with the LOADED
    // model — the round-trip is the operator, not a cache.
    val posModel = {
      val fit = new LinearRegression()
        .setFeaturesCol("features").setLabelCol("t_xpos")
        .setSolver("normal").setRegParam(0.0)
        .fit(train)
      val path = Scratch.fresh(spark, dir, "model-score") + "/queue_end_pos"
      fit.write.overwrite().save(path)
      org.apache.spark.ml.regression.LinearRegressionModel.load(path)
    }
    val lanesModel = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("t_lanes")
      .setPredictionCol("p_lanes").setProbabilityCol("prob_lanes")
      .setRawPredictionCol("raw_lanes").setMaxIter(25)
      .fit(train)
    val fullModel = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("t_full")
      .setPredictionCol("p_full").setProbabilityCol("prob_full")
      .setRawPredictionCol("raw_full").setMaxIter(25)
      .fit(train)

    val scored = fullModel.transform(
      lanesModel.transform(
        posModel.transform(train).withColumnRenamed("prediction", "queue_end_pos")))
      .select(col("vec_id"),
        col("queue_end_pos"),
        col("p_lanes").as("lanes_raw"),
        element_at(vector_to_array(col("prob_full")), 2).as("queue_full"))
    train.unpersist()

    // E1–E9 on the model outputs (estimate_queue.py:118-163).
    scored
      .withColumn("x_pos", clampNonNeg(col("queue_end_pos")))
      .withColumn("lanes", lanesOf(col("lanes_raw")))
      .withColumn("meters_interp", piecewiseInterp(col("x_pos")))
      .withColumn("meters_sat", saturateIfFull(col("queue_full"), col("meters_interp")))
      .withColumn("meters", unseenAdjust(col("x_pos"), col("meters_sat") * col("lanes")))
      .withColumn("cars", carsOf(col("meters")))
      .withColumn("expected_queue_time", queueTime(col("cars")))
      .select(col("vec_id"), col("x_pos"), col("lanes"), col("queue_full"),
        col("meters"), col("cars"), col("expected_queue_time"))
      .orderBy(col("vec_id"))
  }
}
