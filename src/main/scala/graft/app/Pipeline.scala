package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.conf.EngineConfig
import graft.ml.Prod2Vec
import graft.ops._

/** End-to-end pipeline — the reference's Airflow DAG
  * (`dags/prod2vec_train_dag.py:194-283`) as plain Scala control flow
  * over one lazy Spark application (SURVEY.md §3):
  *
  *   quality gates → preprocess (vocab/encode/pairs/negatives/tensors)
  *     → [branch: train | tune+train-best] → post-process (embeddings +
  *     names + similarity report)
  *
  * Airflow's process/node/S3 boundaries disappear: every stage exchanges
  * DataFrames (persisted to Parquet only where the caller wants
  * artifacts), the `BranchPythonOperator` is an `if`, and the SageMaker
  * metrics regex-scrape is a return value.
  */
object Pipeline {

  /** Artifacts a run leaves behind. */
  case class Result(
      vocab: DataFrame,
      tensors: DataFrame,
      embeddings: DataFrame,
      similarityReport: DataFrame,
      tuningTable: Option[DataFrame])

  /** Stage 2 of the reference (`run_data_quality_checks`,
    * `data_quality_checks.py:136-189`): hard gates before any compute. */
  def qualityGates(lineitem: DataFrame, part: DataFrame): Unit = {
    Quality.checkNoNulls(lineitem, "l_orderkey", "l_partkey")
    Quality.checkColumnCount(part, 6)
    Quality.checkPrimaryKey(part, "p_partkey")
  }

  /** Stage boundary artifact: where [[trainStage]] leaves the model and
    * [[postProcess]] finds it (S8 — the reference's
    * `model.save` / `load_model` handoff between separate processes). */
  def modelPath(outDir: String): String = s"$outDir/model"

  /** Full run on the fixture star schema. `sfDir` points at a TESTDATA
    * scale directory; artifacts land under `outDir` as Parquet.
    *
    * `run` is just [[trainStage]] then [[postProcess]] — the two halves
    * communicate ONLY through the saved model + Parquet artifacts, so
    * they can run in different Spark applications (train once, serve /
    * post-process later), exactly like the reference's separate
    * SageMaker jobs. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          config: EngineConfig = EngineConfig()): Result = {
    val (vocab, tensors, tuningTable) = trainStage(spark, sfDir, outDir, config)
    val (named, report) = postProcess(spark, sfDir, outDir, config)
    Result(vocab, tensors, named, report, tuningTable)
  }

  /** Preprocess + train + persist (the reference's preprocessing and
    * model_train stages): gates, vocab/encode/pairs/tensors, the HPO
    * branch, then [[graft.ml.Prod2Vec.save]] to [[modelPath]]. Returns
    * the in-session DataFrames for callers that chain stages in one
    * application; cross-application callers use the Parquet artifacts. */
  def trainStage(spark: SparkSession, sfDir: String, outDir: String,
                 config: EngineConfig = EngineConfig())
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    val pp = config.preprocess
    val lineitem = Sources.table(spark, sfDir, "lineitem")
    val part = Sources.table(spark, sfDir, "part")

    // ---- gates (fail the run like the reference fails the DAG) --------
    qualityGates(lineitem, part)

    // ---- preprocess (§3.1): vocab → encode → pairs → tensors ----------
    val vocab = Vocab.withIndex(
      Vocab.topK(lineitem, "l_partkey", pp.numProds))
    val enc = Vocab.encode(lineitem, "l_partkey", vocab)
    val baskets = Pairs.orderedBaskets(enc, "l_orderkey", "idx",
      Seq(Portable.seededHash(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey")).as("__h"), col("l_partkey").as("__pid")),
      pp.maxBasketLength)
    val pairs = Pairs.subsample(
      Pairs.skipGramPairsFromBaskets(baskets, pp.trainWindowSize),
      Pairs.samplingTable(spark, pp.numProds, pp.samplingFactor))
    val tensors = Pairs.assemble(
      Pairs.negatives(pairs, pp.numNs, pp.numProds), pp.numNs)
    Sources.writeParquet(tensors, s"$outDir/tensors")

    // ---- branch (§3.2): train once, or tune the grid and keep the best
    val basketTokens = Prod2Vec.baskets(lineitem)
    val base = Prod2Vec.Params(vectorSize = config.train.embeddingDim,
      windowSize = config.preprocess.trainWindowSize,
      maxIter = config.train.epochs, stepSize = config.train.learningRate,
      maxSentenceLength = config.preprocess.maxBasketLength)
    val (model, tuningTable) =
      if (config.hpoEnabled) {
        val coPairs = Similarity.coPurchaseTopK(pairs, 1)
          .join(broadcast(vocab.select(col("idx").as("target"),
            col("product_id").as("target_pid"))), Seq("target"))
          .join(broadcast(vocab.select(col("idx").as("context"),
            col("product_id").as("neighbor_pid"))), Seq("context"))
          .select("target_pid", "neighbor_pid")
        val grid = config.tune.draws.map { case (d, lr) =>
          base.copy(vectorSize = d, stepSize = lr)
        }
        val (table, best) = Prod2Vec.tune(basketTokens, grid, coPairs)
        val bestName = best.head().getAs[String]("job_name")
        // tune() stamps start_ms with the grid index, so it doubles as
        // the lookup key for the winning Params
        val bestParams = grid(table.filter(col("job_name") === bestName)
          .head().getAs[Long]("start_ms").toInt)
        Sources.writeParquet(table, s"$outDir/tuning")
        (Prod2Vec.train(basketTokens, bestParams), Some(table))
      } else (Prod2Vec.train(basketTokens, base), None)

    // ---- persist (S8): the train/post-process handoff artifact --------
    Prod2Vec.save(model, modelPath(outDir))
    (vocab, tensors, tuningTable)
  }

  /** Post-process (the reference's post_processing stage): LOADS the
    * persisted model from [[modelPath]] — no in-session state from
    * [[trainStage]] — then embeddings + names + similarity report.
    * Returns (named embeddings, similarity report). */
  def postProcess(spark: SparkSession, sfDir: String, outDir: String,
                  config: EngineConfig = EngineConfig())
      : (DataFrame, DataFrame) = {
    val part = Sources.table(spark, sfDir, "part")
    val lineitem = Sources.table(spark, sfDir, "lineitem")
    val vocab = Vocab.withIndex(
      Vocab.topK(lineitem, "l_partkey", config.preprocess.numProds))
    val model = Prod2Vec.load(modelPath(outDir))

    // ---- post-process (§3.3): embeddings + names + similarity report --
    val emb = Prod2Vec.embeddings(model)
    val named = emb
      .join(broadcast(part.select(col("p_partkey").as("vec_id"),
        col("p_name").as("product_name"))), Seq("vec_id"), "left")
    Sources.writeParquet(named, s"$outDir/embeddings")

    // validation probes (A12): deterministic sample of the frequent head
    val probes = vocab.filter(col("idx") <= config.train.validWindow)
      .orderBy(Portable.unif(col("product_id"), lit("valid")), col("idx"))
      .limit(config.train.validSize)
      .select(col("product_id")).collect().map(_.getLong(0)).toSeq
    val report = Prod2Vec.synonyms(model, probes, 20)
    Sources.writeParquet(report, s"$outDir/report")

    (named, report)
  }
}
