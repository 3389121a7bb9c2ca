package graft.conf

import org.apache.spark.sql.SparkSession

/** Session construction for the engine's production posture — the conf
  * set the operator scaladocs assume, in one place instead of scattered
  * over deployment scripts.
  *
  * Everything here is standard public Spark configuration; the values
  * encode the engine's documented contracts:
  *
  *  - AQE on with skew-join handling and partition coalescing: the
  *    dedup/band joins are uniform by construction, but real corpora
  *    still skew on hot content — AQE's runtime re-plan is the last
  *    line of defense behind the explicit levers (salting, `maxDf`,
  *    bucketed variants).
  *  - `spark.cleaner.referenceTracking.cleanCheckpoints=true`: the
  *    [[graft.ops.Barrier]] reliable mode writes one checkpoint per
  *    fixpoint round; without this (default false, and it is read at
  *    CONTEXT CREATION, so it cannot be patched in later) superseded
  *    round checkpoints accumulate for the application's lifetime.
  *  - sized shuffle partitions / scan splits instead of the 200-row
  *    default: pick `shufflePartitions` ≈ 2-3× total executor cores,
  *    scaled so a partition of the biggest shuffle fits in memory.
  *  - UTC + parquet nanos-as-long: the timestamp semantics every
  *    event-time operator and the DuckDB oracle agree on.
  */
object Sessions {

  /** The conf map applied by [[forMain]] — exposed for tests and for
    * callers who assemble their own builder/spark-submit. */
  def recommendedConfs(shufflePartitions: Int,
                       maxPartitionBytes: Long): Map[String, String] = {
    require(shufflePartitions >= 1,
      s"shufflePartitions must be >= 1, got $shufflePartitions")
    require(maxPartitionBytes >= (1L << 20),
      s"maxPartitionBytes must be >= 1 MiB, got $maxPartitionBytes")
    Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
  }

  /** The one session posture of the graft mains (Bench, Verify, Smoke,
    * Profile, PlanDump, GenScale, CurateMain): [[recommendedConfs]] with
    * `SPARK_GRAFT_CPUS` (default 4) shuffle partitions on
    * `local[SPARK_GRAFT_CPUS]` — or on the master spark-submit set,
    * which wins — UI off, WARN logging. The correctness dump therefore
    * runs under exactly the confs the bench times. Note `getOrCreate`
    * reuses any live session WITHOUT re-applying confs — call this
    * before anything else creates one. */
  def forMain(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
    val master = sys.props.getOrElse("spark.master", s"local[$cpus]")
    val spark = recommendedConfs(cpus, 128L << 20)
      .foldLeft(SparkSession.builder().appName(appName).master(master)) {
        case (b, (k, v)) => b.config(k, v) }
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
