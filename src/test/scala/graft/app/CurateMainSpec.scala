package graft.app

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class CurateMainSpec extends SparkSpec {

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  test("configFromYaml: full round-trip of every knob") {
    val yaml =
      """curate:
        |  keep_langs: [en, de]
        |  min_quality: 0.4
        |  shingle_n: 2
        |  minhash_perms: 8
        |  bands: 2
        |  rows_per_band: 4
        |  jaccard_tau: 0.6
        |  chunk_tokens: 32
        |  scrub_pii: true
        |  max_dup_ngram_ratio: 0.4
        |  repetition_n: 3
        |  max_boiler_ratio: 0.7
        |  boiler_n: 4
        |  boiler_max_df: 500
        |  min_quality_pct: 0.25
        |  blocklist: [spam, junk]
        |  ppl_keep_tiers: [head, middle]
        |  ppl_buckets: 4
        |  keep_best_quality: true
        |  scrub_span_k: 12
        |  pack_seq_tokens: 96
        |  pack_shards: 8
        |  pack_salt: s1
        |  storage_level: DISK_ONLY
        |""".stripMargin
    val c = CurateMain.configFromYaml(yaml)
    assert(c.keepLangs == Set("en", "de"))
    assert(c.minQuality == 0.4 && c.shingleN == 2 && c.minhashPerms == 8)
    assert(c.bands == 2 && c.rowsPerBand == 4 && c.jaccardTau == 0.6)
    assert(c.chunkTokens == 32 && c.scrubPii)
    assert(c.maxDupNgramRatio.contains(0.4) && c.repetitionN == 3)
    assert(c.maxBoilerRatio.contains(0.7) && c.boilerN == 4 &&
      c.boilerMaxDf == 500L)
    assert(c.minQualityPct.contains(0.25))
    assert(c.blocklist.contains(Seq("spam", "junk")))
    assert(c.pplKeepTiers.contains(Set("head", "middle")) &&
      c.pplBuckets == 4)
    assert(c.keepBestQuality && c.scrubSpanK.contains(12))
    assert(c.packSeqTokens.contains(96) && c.packShards == 8 &&
      c.packSalt == "s1")
    assert(c.storageLevel == StorageLevel.DISK_ONLY)
  }

  test("configFromYaml: empty document keeps every default") {
    assert(CurateMain.configFromYaml("") == CorpusPipeline.Config())
    assert(CurateMain.configFromYaml("curate: {}\n") ==
      CorpusPipeline.Config())
  }

  /** `configFromYaml(yaml)` fails with an IllegalArgumentException that
    * names `key`. */
  private def rejects(yaml: String, key: String): Unit = {
    val e = intercept[IllegalArgumentException](CurateMain.configFromYaml(yaml))
    assert(e.getMessage.contains(key), e.getMessage)
  }

  test("configFromYaml: a value of the wrong type fails naming its key") {
    rejects("curate:\n  min_quality: high\n", "min_quality")
    rejects("curate:\n  scrub_pii: maybe\n", "scrub_pii")
    rejects("curate:\n  boiler_max_df: lots\n", "boiler_max_df")
    rejects("curate:\n  scrub_span_k: [1]\n", "scrub_span_k")
  }

  test("configFromYaml: a misspelled key or a curate value that is not a " +
      "mapping fails instead of falling back to the defaults") {
    rejects("curate:\n  min_qualty: 0.9\n", "min_qualty")
    rejects("curate: [min_quality]\n", "curate")
    rejects("curate: 0.9\n", "curate")
  }

  test("funnel counts and chunk hashes are storage-level-invariant") {
    def run(lvl: StorageLevel) = {
      val out = java.nio.file.Files.createTempDirectory("curate-lvl")
        .toString
      val r = CorpusPipeline.curateToParquet(docs, out,
        CorpusPipeline.Config(storageLevel = lvl))
      val chunks = spark.read.parquet(out)
      val h = chunks
        .select(xxhash64(chunks.columns.toIndexedSeq.map(col): _*)
          .as("__h"))
        .agg(bit_xor(col("__h"))).collect()(0).getLong(0)
      (r.funnel, h)
    }
    val a = run(StorageLevel.MEMORY_AND_DISK)
    val b = run(StorageLevel.DISK_ONLY)
    assert(a._1 == b._1, "funnel counts differ across storage levels")
    assert(a._2 == b._2, "chunk hashes differ across storage levels")
  }

  test("CurateMain.main: fixture smoke run writes partitioned chunks") {
    val tmp = java.nio.file.Files.createTempDirectory("curate-main")
    val out = tmp.resolve("out").toString
    val cfgPath = tmp.resolve("c.yaml")
    java.nio.file.Files.writeString(cfgPath,
      "curate:\n  chunk_tokens: 48\n  storage_level: DISK_ONLY\n")
    CurateMain.main(Array(sf("sf0.001") + "/documents.parquet", out,
      cfgPath.toString))
    val chunks = spark.read.parquet(out)
    assert(chunks.count() > 0)
    assert(chunks.columns.contains("source"))
    assert(chunks.filter(col("n_tokens") > 48).count() == 0)
  }
}
