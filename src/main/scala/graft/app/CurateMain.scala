package graft.app

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.conf.ConfigLoader.{asMap, bool, dbl, int, long, section, str,
  strList}
import org.yaml.snakeyaml.Yaml

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

  /** The `curate:` keys [[configFromYaml]] reads. */
  private val CurateKeys = Set("keep_langs", "min_quality", "shingle_n",
    "minhash_perms", "bands", "rows_per_band", "jaccard_tau", "chunk_tokens",
    "scrub_pii", "max_dup_ngram_ratio", "repetition_n", "max_boiler_ratio",
    "boiler_n", "boiler_max_df", "min_quality_pct", "blocklist",
    "ppl_keep_tiers", "ppl_buckets", "keep_best_quality", "scrub_span_k",
    "pack_seq_tokens", "pack_shards", "pack_salt", "storage_level")

  /** Parse the `curate:` section of a YAML document into a
    * [[CorpusPipeline.Config]] through [[ConfigLoader]]'s YAML helpers —
    * absent keys keep the case-class defaults; present values hit the
    * operators' own `require`s at use. An unknown key, a `curate:` value
    * that is not a mapping, or a value of the wrong type fails with an
    * IllegalArgumentException that names the key. */
  def configFromYaml(text: String): CorpusPipeline.Config = {
    val c = section(asMap(new Yaml().load[Object](text)), "curate")
    val unknown = c.keySet -- CurateKeys
    require(unknown.isEmpty,
      s"curate: unknown keys ${unknown.toSeq.sorted.mkString(", ")}")
    val d = CorpusPipeline.Config()
    def optDbl(k: String) = c.get(k).map(_ => dbl(c, k, 0.0))
    def optInt(k: String) = c.get(k).map(_ => int(c, k, 0))
    CorpusPipeline.Config(
      keepLangs = strList(c, "keep_langs").map(_.toSet)
        .getOrElse(d.keepLangs),
      minQuality = dbl(c, "min_quality", d.minQuality),
      shingleN = int(c, "shingle_n", d.shingleN),
      minhashPerms = int(c, "minhash_perms", d.minhashPerms),
      bands = int(c, "bands", d.bands),
      rowsPerBand = int(c, "rows_per_band", d.rowsPerBand),
      jaccardTau = dbl(c, "jaccard_tau", d.jaccardTau),
      chunkTokens = int(c, "chunk_tokens", d.chunkTokens),
      scrubPii = bool(c, "scrub_pii", d.scrubPii),
      maxDupNgramRatio = optDbl("max_dup_ngram_ratio"),
      repetitionN = int(c, "repetition_n", d.repetitionN),
      maxBoilerRatio = optDbl("max_boiler_ratio"),
      boilerN = int(c, "boiler_n", d.boilerN),
      boilerMaxDf = long(c, "boiler_max_df", d.boilerMaxDf),
      minQualityPct = optDbl("min_quality_pct"),
      blocklist = strList(c, "blocklist"),
      pplKeepTiers = strList(c, "ppl_keep_tiers").map(_.toSet),
      pplBuckets = int(c, "ppl_buckets", d.pplBuckets),
      keepBestQuality = bool(c, "keep_best_quality", d.keepBestQuality),
      scrubSpanK = optInt("scrub_span_k"),
      packSeqTokens = optInt("pack_seq_tokens"),
      packShards = int(c, "pack_shards", d.packShards),
      packSalt = str(c, "pack_salt").getOrElse(d.packSalt),
      storageLevel = str(c, "storage_level")
        .map(StorageLevel.fromString).getOrElse(d.storageLevel))
  }
}
