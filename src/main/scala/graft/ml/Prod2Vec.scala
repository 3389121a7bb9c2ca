package graft.ml

import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Embedding training + extraction (SURVEY.md §2.6 M1–M4) on MLlib.
  *
  * Reference: the Keras two-tower SGNS variant at
  * `pipeline/model_train/model_train.py:97-126` and weight extraction at
  * `pipeline/post_processing/post_process.py:89-103`. Documented semantic
  * deviation (SURVEY.md N4): MLlib `Word2Vec` trains skip-gram with
  * hierarchical softmax rather than the reference's
  * candidate-sampling softmax — same embedding-quality goal, different
  * objective. The standalone pair/negative operators ([[graft.ops.Pairs]])
  * expose the reference's exact sampling semantics as verifiable
  * dataflow; MLlib subsumes them inside its trainer.
  *
  * Scale posture: `Word2Vec.fit` distributes by partition (setNumPartitions)
  * with driver-side weight averaging per iteration — the standard MLlib
  * trade-off. The extracted embedding table is (vocab × dim) — broadcastable
  * for the similarity joins exactly like the reference's 35k × 1024 matrix
  * (SURVEY.md §4).
  */
object Prod2Vec {

  /** Hyperparameters (mirror of `config/prod2vec_config.yaml:24-39`).
    * `maxSentenceLength` is the trainer-path P7 analog (basket cap,
    * `config/prod2vec_config.yaml:28` `max_basket_length`): MLlib splits
    * longer token sequences into chunks of this size, bounding per-record
    * training cost exactly like [[graft.ops.Pairs.orderedBaskets]]'s
    * truncation bounds pair generation. Default matches MLlib's own
    * (1000), so existing training paths are byte-identical unless a cap
    * is configured. Every fit is seeded with 42 (see [[estimator]]). */
  case class Params(
      vectorSize: Int = 16,
      windowSize: Int = 4,      // train_window_size (N1: config wins over README)
      maxIter: Int = 1,         // epochs
      minCount: Int = 2,
      stepSize: Double = 0.025, // learning_rate
      numPartitions: Int = 8,
      maxSentenceLength: Int = 1000)

  /** A1 for the trainer: baskets as string-token sequences (Word2Vec
    * consumes `Array[String]`), tokens in line-number (add-to-cart)
    * order — `collect_list` alone is partitioning-dependent, and a
    * deterministic token order is what makes single-partition seeded
    * training bit-reproducible (the q37 fixture + Prod2VecSpec law). */
  def baskets(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey").as("order_id"))
      .agg(array_sort(collect_list(struct(
          col("l_linenumber").as("n"),
          col("l_partkey").cast("string").as("t"))))
        .getField("t").as("tokens"))

  /** M1: the configured estimator (exposed so specs can assert every
    * [[Params]] field actually reaches MLlib). */
  def estimator(p: Params): Word2Vec =
    new Word2Vec()
      .setInputCol("tokens")
      .setOutputCol("vec")
      .setVectorSize(p.vectorSize)
      .setWindowSize(p.windowSize)
      .setMaxIter(p.maxIter)
      .setMinCount(p.minCount)
      .setStepSize(p.stepSize)
      .setNumPartitions(p.numPartitions)
      .setSeed(42L)
      .setMaxSentenceLength(p.maxSentenceLength)

  /** M1+M2: build and fit the embedding model. */
  def train(basketDf: DataFrame, p: Params): Word2VecModel =
    estimator(p).fit(basketDf)

  /** S8: model persistence — the reference's train and post-process stages
    * are separate processes exchanging a saved model
    * (`pipeline/model_train/model_train.py:131` `model.save`;
    * `pipeline/post_processing/post_process.py:89` `load_model`). MLlib's
    * writer persists to a Parquet-backed directory: cluster-readable,
    * version-stamped, no pickling — `path` can be any Hadoop-visible URI,
    * so the 100 TB deployment writes straight to object storage. */
  def save(model: Word2VecModel, path: String): Unit =
    model.write.overwrite().save(path)

  /** S8: load a persisted model — the post-process entry point; see
    * [[save]]. */
  def load(path: String): Word2VecModel = Word2VecModel.load(path)

  /** M4: embedding matrix as a relational table
    * (vec_id = product id, embedding: array<float>) — the
    * `model.get_weights()[0]` → DataFrame step of `post_process.py:92-95`,
    * shaped to slot straight into [[Similarity.cosineTopK]]/[[graft.ops.Ann]]. */
  def embeddings(model: Word2VecModel): DataFrame =
    model.getVectors.select(
      col("word").cast("long").as("vec_id"),
      vector_to_array(col("vector"), "float32").as("embedding"))

  /** M3: top-k similar products per probe — the reference's
    * `SimilarityCallback.run_sim` (`model_train.py:14-49`) expressed
    * relationally over the extracted embedding table (probe excluded from
    * its own neighbors; deterministic tiebreak). Unlike per-word
    * `findSynonyms`, this is one distributed job for ALL probes. */
  def synonyms(model: Word2VecModel, probeIds: Seq[Long], k: Int): DataFrame = {
    val emb = embeddings(model)
    Similarity.cosineTopK(emb, emb.filter(col("vec_id").isin(probeIds: _*)), k)
  }

  /** M5–M7: grid "tuning" — fit each candidate, score it with an
    * intrinsic objective, return the runs table with `iteration` in
    * start order plus the best row. Grid ≠ the reference's SageMaker
    * Bayesian search — a documented deviation (SURVEY.md M5).
    *
    * Objective (minimized): negative mean cosine between the model's
    * embeddings of the `coPairs` (target_pid, neighbor_pid) ground-truth
    * co-purchase pairs — a deterministic, label-free stand-in for the
    * reference's regex-scraped training loss. */
  def tune(basketDf: DataFrame, grid: Seq[Params],
           coPairs: DataFrame): (DataFrame, DataFrame) = {
    val spark = basketDf.sparkSession
    import spark.implicits._
    val runs = grid.zipWithIndex.map { case (p, i) =>
      (s"run_dim${p.vectorSize}_lr${p.stepSize}",
        evalObjective(basketDf, p, coPairs), i.toLong)
    }.toDF("job_name", "objective", "start_ms")
    val table = Similarity.withIteration(runs, "start_ms")
      .withColumn("iteration", col("iteration").cast("long"))
    (table, Similarity.bestRow(table, "objective"))
  }

  /** The tuning objective (minimized): negative mean cosine of the
    * co-purchase ground-truth pairs under the candidate's embeddings. */
  private def evalObjective(basketDf: DataFrame, p: Params,
                            coPairs: DataFrame): Double = {
    val emb = embeddings(train(basketDf, p))
    val a = emb.select(col("vec_id").as("pid_a"),
      transform(col("embedding"), _.cast("double")).as("v_a"))
    val b = emb.select(col("vec_id").as("pid_b"),
      transform(col("embedding"), _.cast("double")).as("v_b"))
    val meanCos = coPairs
      .select(col("target_pid").as("pid_a"), col("neighbor_pid").as("pid_b"))
      .join(a, Seq("pid_a")).join(b, Seq("pid_b"))
      .select(Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .agg(avg("cos")).head().getDouble(0)
    -meanCos
  }
}
