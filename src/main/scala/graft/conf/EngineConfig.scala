package graft.conf

/** Engine configuration — case-class mirror of the reference's YAML +
  * pydantic validation (`config/prod2vec_config.yaml:1-63`,
  * `config/load_prod2vec_config.py:6-135`). Pydantic's field validators
  * become constructor `require`s, so an invalid config fails at
  * construction exactly like the reference fails at DAG import
  * (`dags/prod2vec_train_dag.py:42-45`).
  *
  * Note the reference's validation gap: `ConfigPreprocess` omits
  * `train_window_size` (SURVEY.md §5) — here every knob is validated.
  */
final case class PreprocessConfig(
    numProds: Int = 100,         // prod2vec_config.yaml:25 (35000 at prod scale)
    trainWindowSize: Int = 4,    // :26 (N1: config wins over README's 5)
    numNs: Int = 4,              // :27
    maxBasketLength: Int = 50,   // :28
    samplingFactor: Double = 1e-3) {
  require(numProds > 1, s"numProds must be > 1, got $numProds")
  require(trainWindowSize > 0, s"trainWindowSize must be > 0, got $trainWindowSize")
  require(numNs >= 0, s"numNs must be >= 0, got $numNs")
  require(maxBasketLength > 0, s"maxBasketLength must be > 0, got $maxBasketLength")
  require(samplingFactor > 0 && samplingFactor <= 1,
    s"samplingFactor must be in (0,1], got $samplingFactor")
}

/** Training hyperparameters (`prod2vec_config.yaml:34-48`). */
final case class TrainConfig(
    embeddingDim: Int = 16,      // :35 (1024 at prod scale)
    epochs: Int = 1,             // :37 (15 at prod scale)
    learningRate: Double = 0.025,
    validSize: Int = 10,         // :38 (100 at prod scale)
    validWindow: Int = 50) {     // :39 (1000 at prod scale)
  require(embeddingDim > 0, s"embeddingDim must be > 0, got $embeddingDim")
  require(epochs > 0, s"epochs must be > 0, got $epochs")
  require(learningRate > 0, s"learningRate must be > 0, got $learningRate")
  require(validSize <= validWindow,
    s"validSize ($validSize) must be <= validWindow ($validWindow)")
}

/** Tuning search space (`prod2vec_config.yaml:49-55`). The reference
  * hands the ranges to SageMaker's Bayesian tuner
  * (`dags/prod2vec_train_dag.py:156-188`: `IntegerParameter` over
  * embeddings, `ContinuousParameter` over learning rate, `max_jobs`
  * draws); sequential Bayesian updating is out of proportion to a
  * 5-job budget, so the engine offers two DETERMINISTIC strategies
  * over the same ranges:
  *
  *  - `"grid"` — cartesian dims × learningRates capped at maxJobs;
  *  - `"random"` — maxJobs keyed-hash draws from the CONTINUOUS
  *    ranges [dims.min, dims.max] (integer-uniform) ×
  *    [learningRates.min, learningRates.max] (uniform), the same
  *    search distribution the reference's tuner samples from, made
  *    reproducible: job i's params are a pure function of i (hashed
  *    under the fixed salt "hpo"), so a re-run explores the identical
  *    sequence.
  */
final case class TuneConfig(
    dims: Seq[Int] = Seq(8, 16),
    learningRates: Seq[Double] = Seq(0.01, 0.025),
    maxJobs: Int = 5,            // :50
    strategy: String = "grid") {
  require(dims.nonEmpty && learningRates.nonEmpty, "empty tuning grid")
  require(maxJobs > 0, s"maxJobs must be > 0, got $maxJobs")
  require(Set("grid", "random")(strategy),
    s"strategy must be grid|random, got $strategy")
  /** The grid, capped at maxJobs like the reference's budget. */
  def grid: Seq[(Int, Double)] =
    (for { d <- dims; lr <- learningRates } yield (d, lr)).take(maxJobs)
  /** Seeded random search (see class doc). */
  private def randomDraws: Seq[(Int, Double)] = {
    import org.apache.spark.unsafe.types.UTF8String
    val (dMin, dMax) = (dims.min, dims.max)
    val (lrMin, lrMax) = (learningRates.min, learningRates.max)
    (0 until maxJobs).map { i =>
      def u(tag: String): Double =
        graft.functions.Hash60.compute(Array(
          UTF8String.fromString("hpo"), UTF8String.fromString(tag),
          UTF8String.fromString(i.toString))) / graft.ops.Portable.TwoPow60
      val d = math.min(dMax, dMin + (u("dim") * (dMax - dMin + 1)).toInt)
      (d, lrMin + u("lr") * (lrMax - lrMin))
    }
  }
  /** The job list the configured strategy yields. */
  def draws: Seq[(Int, Double)] =
    if (strategy == "random") randomDraws else grid
}

/** Full engine config with the HPO branch flag
  * (`dags/prod2vec_train_dag.py:60-71`). */
final case class EngineConfig(
    preprocess: PreprocessConfig = PreprocessConfig(),
    train: TrainConfig = TrainConfig(),
    tune: TuneConfig = TuneConfig(),
    hpoEnabled: Boolean = false)
