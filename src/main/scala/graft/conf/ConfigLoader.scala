package graft.conf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** YAML → [[EngineConfig]] loader — the engine's analog of the reference's
  * config entry point (`config/load_prod2vec_config.py:108-135` `load_yaml`
  * + pydantic `Config` model). Accepts the reference's own section/key
  * names (`config/prod2vec_config.yaml`): `preprocess_constants.num_prods`,
  * `estimator_config.static_params.epochs`, `train_hyperparameters.
  * embeddings`, … Missing sections/keys fall back to the case-class
  * defaults; values present are validated by the `require`s in
  * [[EngineConfig]]'s components, so an invalid file fails at load exactly
  * like the reference fails at DAG import (`dags/prod2vec_train_dag.py:
  * 42-45`).
  *
  * Parsing uses SnakeYAML (already on Spark's classpath — Spark itself
  * depends on it); `safe_load` semantics via the plain `Yaml()` loader
  * (no arbitrary-type tags).
  *
  * Documented mapping deviations (SURVEY.md §2.6 M5): the reference's
  * `tune_hyperparameters` describe a SageMaker *Bayesian* search range
  * (`min_embeddings`/`max_embeddings`, `min_learning_rate`/
  * `max_learning_rate`); our grid tuner takes the range ENDPOINTS as the
  * grid axes. An explicit `embeddings: [..]` / `learning_rates: [..]`
  * list overrides that derivation.
  */
object ConfigLoader {

  /** Load and validate a YAML config file ([[fromYamlString]] on its
    * contents). Like the reference's `load_yaml`, a missing path is an
    * immediate error. */
  def fromYamlFile(path: String): EngineConfig = {
    require(path != null && path.nonEmpty,
      "Must supply path to the config file")
    fromYamlString(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
  }

  /** Parse a YAML document into a validated [[EngineConfig]]. */
  def fromYamlString(text: String): EngineConfig = {
    val root = asMap(new Yaml().load[Object](text))
    val pre = section(root, "preprocess_constants")
    val est = section(root, "estimator_config")
    val static0 = section(est, "static_params")
    val trainHp = section(est, "train_hyperparameters")
    val tuneHp = section(est, "tune_hyperparameters")

    val d = EngineConfig() // case-class defaults for everything absent
    val preprocess = PreprocessConfig(
      numProds = int(pre, "num_prods", d.preprocess.numProds),
      trainWindowSize = int(pre, "train_window_size", d.preprocess.trainWindowSize),
      numNs = int(pre, "num_ns", d.preprocess.numNs),
      maxBasketLength = int(pre, "max_basket_length", d.preprocess.maxBasketLength),
      samplingFactor = dbl(pre, "sampling_factor", d.preprocess.samplingFactor))
    val train = TrainConfig(
      embeddingDim = int(trainHp, "embeddings", d.train.embeddingDim),
      epochs = int(static0, "epochs", d.train.epochs),
      learningRate = dbl(trainHp, "learning_rate", d.train.learningRate),
      validSize = int(static0, "valid_size", d.train.validSize),
      validWindow = int(static0, "valid_window", d.train.validWindow))
    val tune = TuneConfig(
      dims = intList(tuneHp, "embeddings")
        .orElse(rangeEndpoints(tuneHp, "min_embeddings", "max_embeddings")
          .map(_.map(_.toInt)))
        .getOrElse(d.tune.dims),
      learningRates = dblList(tuneHp, "learning_rates")
        .orElse(rangeEndpoints(tuneHp, "min_learning_rate", "max_learning_rate"))
        .getOrElse(d.tune.learningRates),
      maxJobs = int(tuneHp, "max_jobs", d.tune.maxJobs),
      strategy = str(tuneHp, "strategy").getOrElse(d.tune.strategy))
    val hpo = str(static0, "run_hyperparameter_opt") match {
      case Some(s) => s.equalsIgnoreCase("yes") || s.equalsIgnoreCase("true")
      case None => false
    }
    EngineConfig(preprocess, train, tune, hpo)
  }

  // ---- YAML plumbing (SnakeYAML yields java.util boxes) -----------------
  // Shared with [[graft.app.CurateMain]]: a value of the wrong type fails
  // with an IllegalArgumentException that names its key.

  private[graft] def asMap(o: Object): Map[String, Object] = o match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap
    case null => Map.empty
    case other =>
      throw new IllegalArgumentException(s"expected a YAML mapping, got $other")
  }

  private def notA(key: String, what: String, o: Any) =
    new IllegalArgumentException(s"$key: not $what: $o")

  private[graft] def section(m: Map[String, Object],
                             key: String): Map[String, Object] =
    m.get(key) match {
      case Some(v: java.util.Map[_, _]) => asMap(v)
      case None | Some(null) => Map.empty
      case Some(o) => throw notA(key, "a YAML mapping", o)
    }

  private[graft] def int(m: Map[String, Object], key: String, dflt: Int): Int =
    m.get(key).map {
      case n: Number => n.intValue()
      case s: String => s.toIntOption.getOrElse(throw notA(key, "an int", s))
      case o => throw notA(key, "an int", o)
    }.getOrElse(dflt)

  private[graft] def long(m: Map[String, Object], key: String,
                          dflt: Long): Long =
    m.get(key).map {
      case n: Number => n.longValue()
      case s: String => s.toLongOption.getOrElse(throw notA(key, "an int", s))
      case o => throw notA(key, "an int", o)
    }.getOrElse(dflt)

  private[graft] def dbl(m: Map[String, Object], key: String,
                         dflt: Double): Double =
    m.get(key).map {
      case n: Number => n.doubleValue()
      case s: String =>
        s.toDoubleOption.getOrElse(throw notA(key, "a number", s))
      case o => throw notA(key, "a number", o)
    }.getOrElse(dflt)

  private[graft] def bool(m: Map[String, Object], key: String,
                          dflt: Boolean): Boolean =
    m.get(key).map {
      case b: java.lang.Boolean => b.booleanValue
      case o => throw notA(key, "a boolean", o)
    }.getOrElse(dflt)

  private[graft] def str(m: Map[String, Object], key: String): Option[String] =
    m.get(key).map(_.toString)

  /** A YAML list, or one scalar as a one-element list. */
  private[graft] def strList(m: Map[String, Object],
                             key: String): Option[Seq[String]] =
    m.get(key).map {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
      case one => Seq(one.toString)
    }

  private def numList(m: Map[String, Object], key: String): Option[Seq[Double]] =
    m.get(key).collect {
      case l: java.util.List[_] =>
        l.asScala.toSeq.map {
          case n: Number => n.doubleValue()
          case o => throw new IllegalArgumentException(s"$key: not a number: $o")
        }
    }

  private def intList(m: Map[String, Object], key: String): Option[Seq[Int]] =
    numList(m, key).map(_.map(_.toInt))

  private def dblList(m: Map[String, Object], key: String): Option[Seq[Double]] =
    numList(m, key)

  /** (min_x, max_x) → Some(Seq(min, max)) when both present — the
    * Bayesian-range-to-grid-endpoints mapping. */
  private def rangeEndpoints(m: Map[String, Object], lo: String,
                             hi: String): Option[Seq[Double]] =
    (m.get(lo), m.get(hi)) match {
      case (Some(_), Some(_)) =>
        val a = dbl(m, lo, 0.0); val b = dbl(m, hi, 0.0)
        Some(if (a == b) Seq(a) else Seq(a, b))
      case _ => None
    }
}
