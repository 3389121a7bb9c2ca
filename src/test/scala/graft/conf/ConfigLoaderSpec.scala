package graft.conf

import org.scalatest.funsuite.AnyFunSuite

class ConfigLoaderSpec extends AnyFunSuite {

  private val sampleYaml =
    """preprocess_constants:
      |  num_prods: 35000
      |  train_window_size: 4
      |  num_ns: 4
      |  max_basket_length: 50
      |
      |estimator_config:
      |  static_params:
      |    run_hyperparameter_opt: "no"
      |    epochs: 15
      |    valid_size: 100
      |    valid_window: 1000
      |  train_hyperparameters:
      |    embeddings: 1024
      |    learning_rate: 0.001
      |  tune_hyperparameters:
      |    max_jobs: 5
      |    min_embeddings: 100
      |    max_embeddings: 1024
      |    min_learning_rate: 0.0001
      |    max_learning_rate: 0.001
      |""".stripMargin

  test("loads the reference's own section/key names") {
    val c = ConfigLoader.fromYamlString(sampleYaml)
    assert(c.preprocess.numProds == 35000)
    assert(c.preprocess.trainWindowSize == 4)
    assert(c.preprocess.numNs == 4)
    assert(c.preprocess.maxBasketLength == 50)
    assert(c.train.embeddingDim == 1024)
    assert(c.train.epochs == 15)
    assert(c.train.learningRate == 0.001)
    assert(c.train.validSize == 100)
    assert(c.train.validWindow == 1000)
    assert(c.tune.maxJobs == 5)
    assert(c.tune.dims == Seq(100, 1024))       // Bayesian range -> endpoints
    assert(c.tune.learningRates == Seq(0.0001, 0.001))
    assert(!c.hpoEnabled)
  }

  test("hpo flag parses the reference's yes/no string") {
    val c = ConfigLoader.fromYamlString(
      sampleYaml.replace("\"no\"", "\"yes\""))
    assert(c.hpoEnabled)
  }

  test("missing sections fall back to defaults") {
    val c = ConfigLoader.fromYamlString("preprocess_constants:\n  num_prods: 7\n")
    assert(c.preprocess.numProds == 7)
    assert(c.train == TrainConfig())
    assert(c.tune == TuneConfig())
  }

  test("explicit grid lists override the range derivation") {
    val c = ConfigLoader.fromYamlString(
      """estimator_config:
        |  tune_hyperparameters:
        |    embeddings: [8, 16, 32]
        |    learning_rates: [0.01]
        |    min_embeddings: 100
        |    max_embeddings: 1024
        |""".stripMargin)
    assert(c.tune.dims == Seq(8, 16, 32))
    assert(c.tune.learningRates == Seq(0.01))
  }

  test("invalid values fail at load like the reference's pydantic gate") {
    intercept[IllegalArgumentException] {
      ConfigLoader.fromYamlString("preprocess_constants:\n  num_prods: 1\n")
    }
    intercept[IllegalArgumentException] {
      ConfigLoader.fromYamlString(
        """estimator_config:
          |  static_params:
          |    valid_size: 100
          |    valid_window: 10
          |""".stripMargin)
    }
  }

  test("random search strategy: parsed, in-range, deterministic, budget-sized") {
    val c = ConfigLoader.fromYamlString(
      sampleYaml.replace("max_jobs: 5", "max_jobs: 7\n    strategy: random"))
    assert(c.tune.strategy == "random" && c.tune.maxJobs == 7)
    val draws = c.tune.draws
    assert(draws.size == 7)
    draws.foreach { case (d, lr) =>
      assert(d >= 100 && d <= 1024, s"dim out of range: $d")
      assert(lr >= 0.0001 && lr <= 0.001, s"lr out of range: $lr")
    }
    // deterministic re-draw
    assert(c.tune.draws == draws)
    // the continuous range is actually explored (not endpoint-pinned)
    assert(draws.map(_._2).distinct.size > 1)
    // default stays grid; bad strategy rejected
    assert(ConfigLoader.fromYamlString(sampleYaml).tune.strategy == "grid")
    intercept[IllegalArgumentException] {
      graft.conf.TuneConfig(strategy = "bayesian")
    }
  }

  test("file round-trip and missing-path error") {
    val f = java.nio.file.Files.createTempFile("graft-conf", ".yaml")
    java.nio.file.Files.writeString(f, sampleYaml)
    assert(ConfigLoader.fromYamlFile(f.toString).preprocess.numProds == 35000)
    intercept[IllegalArgumentException] { ConfigLoader.fromYamlFile("") }
  }
}
