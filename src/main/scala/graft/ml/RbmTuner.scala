package graft.ml

import org.apache.spark.sql.Dataset

/** Hyperparameter tuning (reference stages A16/A17, the `tune_rbm=True`
  * path): grid-search over RBM configs, score each by the best held-out
  * cell reconstruction MSE (RbmCore's early-stopping metric), refit the
  * winner at full epochs.
  *
  * The encoded training rows are collected ONCE and shared across all
  * candidate fits (`RbmCore.fit` only reads them) — tuning cost is pure
  * driver-local kernel math, no extra cluster passes beyond the single
  * sample collect. Candidates are embarrassingly parallel; sequential is
  * fine at model sizes where one fit is sub-second.
  */
object RbmTuner {

  final case class Candidate(
      nHidden: Int, learnRate: Double, batchSize: Int, dropout: Double)

  /** Default grid: small, reference-shaped (hidden width × lr × dropout). */
  val defaultGrid: Seq[Candidate] = for {
    nHidden <- Seq(8, 16)
    learnRate <- Seq(0.05, 0.2)
    dropout <- Seq(0.0, 0.5)
  } yield Candidate(nHidden, learnRate, 64, dropout)

  final case class TuneReport(
      best: Candidate, scores: Seq[(Candidate, Double)], model: RbmImputerModel)

  /** Fits `imputer` with tuning: cheap fits (`tuneEpochs`) across the
    * grid on a shared sample, then a full refit of the argmin config. */
  def fitTuned(imputer: RbmImputer, ds: Dataset[_],
               grid: Seq[Candidate] = defaultGrid,
               tuneEpochs: Int = 5): TuneReport = {
    val df = ds.toDF()
    val (layout, x, known) = imputer.collectTrainingData(df)
    val base = imputer.rbmConfig
    val scores = grid.map { c =>
      val cfg = base.copy(nHidden = c.nHidden, learnRate = c.learnRate,
        batchSize = c.batchSize, dropout = c.dropout, maxEpochs = tuneEpochs,
        patience = tuneEpochs)
      val r = RbmCore.fit(x, known, layout.width, cfg)
      c -> (if (r.epochErrors.nonEmpty) r.epochErrors.min else Double.MaxValue)
    }
    val best = scores.minBy(_._2)._1
    val cfg = base.copy(nHidden = best.nHidden, learnRate = best.learnRate,
      batchSize = best.batchSize, dropout = best.dropout)
    val result = RbmCore.fit(x, known, layout.width, cfg)
    TuneReport(best, scores, imputer.buildModel(layout, result))
  }
}
