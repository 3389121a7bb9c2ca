package graft.app

import graft.SparkSpec
import graft.conf.{EngineConfig, PreprocessConfig, TrainConfig, TuneConfig}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("end-to-end run (train branch): artifacts non-empty and joined") {
    val res = Pipeline.run(spark, sf("sf0.001"), tmp("graft-pipe"),
      EngineConfig(train = TrainConfig(embeddingDim = 8, validSize = 3,
        validWindow = 20)))
    assert(res.vocab.count() == 99)
    assert(res.tensors.count() > 0)
    assert(res.embeddings.filter(col("product_name").isNotNull).count() > 0)
    assert(res.similarityReport.count() > 0)
    assert(res.tuningTable.isEmpty)
    // report shape: <= 20 neighbors per probe, probe never its own neighbor
    val bad = res.similarityReport
      .filter(col("probe_id") === col("vec_id")).count()
    assert(bad == 0)
  }

  test("end-to-end run (hpo branch): tuning table written, best model used") {
    val res = Pipeline.run(spark, sf("sf0.001"), tmp("graft-pipe-hpo"),
      EngineConfig(
        train = TrainConfig(embeddingDim = 8, validSize = 2, validWindow = 10),
        tune = TuneConfig(dims = Seq(4, 8), learningRates = Seq(0.025),
          maxJobs = 2),
        hpoEnabled = true))
    assert(res.tuningTable.isDefined)
    assert(res.tuningTable.get.count() == 2)
    assert(res.embeddings.count() > 0)
  }

  test("S8: train and post-process run as separate stages through the saved model") {
    val out = tmp("graft-pipe-s8")
    val cfg = EngineConfig(train = TrainConfig(embeddingDim = 8,
      validSize = 2, validWindow = 10))
    Pipeline.trainStage(spark, sf("sf0.001"), out, cfg)
    assert(new java.io.File(Pipeline.modelPath(out)).exists())
    // post-process holds NO state from the train stage — only the path
    val (named, report) = Pipeline.postProcess(spark, sf("sf0.001"), out, cfg)
    assert(named.count() > 0)
    assert(report.count() > 0)
  }

  test("config validation fails fast like the reference's pydantic gate") {
    intercept[IllegalArgumentException] {
      PreprocessConfig(numProds = 1)
    }
    intercept[IllegalArgumentException] {
      TrainConfig(validSize = 100, validWindow = 10)
    }
  }

  test("random search strategy: in-range, deterministic, budget-sized") {
    val t = TuneConfig(dims = Seq(100, 1024),
      learningRates = Seq(0.0001, 0.001), maxJobs = 7, strategy = "random")
    val draws = t.draws
    assert(draws.size == 7)
    draws.foreach { case (d, lr) =>
      assert(d >= 100 && d <= 1024, s"dim out of range: $d")
      assert(lr >= 0.0001 && lr <= 0.001, s"lr out of range: $lr")
    }
    // deterministic re-draw
    assert(t.draws == draws)
    // the continuous range is actually explored (not endpoint-pinned)
    assert(draws.map(_._2).distinct.size > 1)
    // default stays grid; bad strategy rejected
    assert(TuneConfig().strategy == "grid")
    intercept[IllegalArgumentException] {
      TuneConfig(strategy = "bayesian")
    }
  }
}
