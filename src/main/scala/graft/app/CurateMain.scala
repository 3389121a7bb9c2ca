package graft.app

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** `spark-submit`-able entry point for the LLM curation funnel — the
  * operational twin of [[graft.app.Pipeline]] (which drives the
  * prod2vec DAG): load a YAML [[CorpusPipeline.Config]], read the
  * documents table, run [[CorpusPipeline.curateToParquet]], print the
  * funnel counts.
  *
  * Usage (local test rig):
  *   sbt "runMain graft.app.CurateMain <docsDir> <outDir> [config.yaml]"
  * On a cluster the same jar goes through spark-submit with a real
  * master; [[graft.conf.Sessions.forMain]] only fills in a local
  * master when none is configured, so `--master yarn`/`k8s://…` wins.
  *
  * YAML shape (every key optional — absent keys keep the
  * [[CorpusPipeline.Config]] defaults; section header `curate:`):
  * {{{
  * curate:
  *   keep_langs: [en]
  *   min_quality: 0.5
  *   shingle_n: 3
  *   minhash_perms: 16
  *   bands: 4
  *   rows_per_band: 4
  *   jaccard_tau: 0.5
  *   chunk_tokens: 64
  *   scrub_pii: true
  *   max_dup_ngram_ratio: 0.4
  *   repetition_n: 2
  *   max_boiler_ratio: 0.6
  *   boiler_n: 3
  *   boiler_max_df: 1000
  *   min_quality_pct: 0.2
  *   blocklist: [spamword]
  *   ppl_keep_tiers: [head, middle]
  *   ppl_buckets: 3
  *   keep_best_quality: true
  *   scrub_span_k: 16
  *   pack_seq_tokens: 128
  *   pack_shards: 16
  *   pack_salt: pack
  *   storage_level: DISK_ONLY   # 100 TB posture; default MEMORY_AND_DISK
  * }}}
  * (`evalDocs` decontamination is a DataFrame input, not a YAML knob —
  * wire it programmatically via [[CorpusPipeline.curate]].)
  */
object CurateMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurateMain <docsParquetDir> <outDir> [config.yaml]")
    val Array(docsDir, outDir) = args.take(2)
    val cfg = args.lift(2)
      .map(p => configFromYaml(
        new String(Files.readAllBytes(Paths.get(p)), UTF_8)))
      .getOrElse(CorpusPipeline.Config())
    // only stop the session we created — under a test harness (or any
    // host app) getOrCreate returns the caller's live session
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = graft.conf.Sessions.forMain("graft-curate")
    val docs = spark.read.parquet(docsDir)
      .select("doc_id", "text", "lang", "source")
    val result = CorpusPipeline.curateToParquet(docs, outDir, cfg)
    result.funnel.foreach { case (stage, n) =>
      println(s"FUNNEL $stage=$n") }
    println(s"CURATE_CHUNKS=${spark.read.parquet(outDir).count()}")
    if (!preExisting) spark.stop()
  }

  /** Parse the `curate:` section of a YAML document into a
    * [[CorpusPipeline.Config]] — absent keys keep the case-class
    * defaults (the [[graft.conf.ConfigLoader]] convention); present
    * values hit the operators' own `require`s at use. */
  def configFromYaml(text: String): CorpusPipeline.Config = {
    val root = Option(new Yaml().load[Object](text)) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) =>
          k.toString -> v.asInstanceOf[Object] }.toMap
      case _ => Map.empty[String, Object]
    }
    val c = root.get("curate") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) =>
          k.toString -> v.asInstanceOf[Object] }.toMap
      case _ => Map.empty[String, Object]
    }
    val d = CorpusPipeline.Config()
    def int(k: String, dflt: Int) =
      c.get(k).map(_.asInstanceOf[Number].intValue).getOrElse(dflt)
    def lng(k: String, dflt: Long) =
      c.get(k).map(_.asInstanceOf[Number].longValue).getOrElse(dflt)
    def dbl(k: String, dflt: Double) =
      c.get(k).map(_.asInstanceOf[Number].doubleValue).getOrElse(dflt)
    def bool(k: String, dflt: Boolean) =
      c.get(k).map(_.asInstanceOf[Boolean].booleanValue).getOrElse(dflt)
    def str(k: String) = c.get(k).map(_.toString)
    def strs(k: String): Option[Seq[String]] = c.get(k).map {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
      case one => Seq(one.toString)
    }
    def optDbl(k: String) =
      c.get(k).map(_.asInstanceOf[Number].doubleValue)
    def optInt(k: String) =
      c.get(k).map(_.asInstanceOf[Number].intValue)
    CorpusPipeline.Config(
      keepLangs = strs("keep_langs").map(_.toSet)
        .getOrElse(d.keepLangs),
      minQuality = dbl("min_quality", d.minQuality),
      shingleN = int("shingle_n", d.shingleN),
      minhashPerms = int("minhash_perms", d.minhashPerms),
      bands = int("bands", d.bands),
      rowsPerBand = int("rows_per_band", d.rowsPerBand),
      jaccardTau = dbl("jaccard_tau", d.jaccardTau),
      chunkTokens = int("chunk_tokens", d.chunkTokens),
      scrubPii = bool("scrub_pii", d.scrubPii),
      maxDupNgramRatio = optDbl("max_dup_ngram_ratio"),
      repetitionN = int("repetition_n", d.repetitionN),
      maxBoilerRatio = optDbl("max_boiler_ratio"),
      boilerN = int("boiler_n", d.boilerN),
      boilerMaxDf = lng("boiler_max_df", d.boilerMaxDf),
      minQualityPct = optDbl("min_quality_pct"),
      blocklist = strs("blocklist"),
      pplKeepTiers = strs("ppl_keep_tiers").map(_.toSet),
      pplBuckets = int("ppl_buckets", d.pplBuckets),
      keepBestQuality = bool("keep_best_quality", d.keepBestQuality),
      scrubSpanK = optInt("scrub_span_k"),
      packSeqTokens = optInt("pack_seq_tokens"),
      packShards = int("pack_shards", d.packShards),
      packSalt = str("pack_salt").getOrElse(d.packSalt),
      storageLevel = str("storage_level")
        .map(StorageLevel.fromString).getOrElse(d.storageLevel))
  }
}
