package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S1: CSV scan uses the pinned schema, no inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("orders.csv")
    java.nio.file.Files.writeString(f,
      "order_id,product_id,add_to_cart_order,reordered\n" +
        "1,100,1,0\n1,200,2,1\n2,100,1,0\n")
    val df = Sources.csv(spark, f.toString, Sources.orderProductsSchema)
    // file sources force nullable=true; names and types must pin exactly
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Sources.orderProductsSchema.map(f => f.name -> f.dataType))
    assert(df.count() == 3)
    assert(df.schema("order_id").dataType == LongType)
  }

  test("S1: malformed rows become nulls (caught by Q1), not type drift") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv2")
    val f = dir.resolve("bad.csv")
    java.nio.file.Files.writeString(f,
      "order_id,product_id,add_to_cart_order,reordered\n" +
        "1,not_a_number,1,0\n")
    val df = Sources.csv(spark, f.toString, Sources.orderProductsSchema)
    // schema holds; the bad cell is null — exactly what checkNoNulls gates
    assert(df.schema("product_id").dataType == LongType)
    intercept[Quality.QualityError] {
      Quality.checkNoNulls(df, "product_id")
    }
  }

  test("S2/S6: parquet round-trip preserves schema and rows") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val out = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Sources.writeParquet(li.limit(100), s"$out/li")
    val back = spark.read.parquet(s"$out/li")
    assert(back.count() == 100)
    assert(back.schema == li.schema)
  }

  test("partitioned write: filtered read prunes partitions at planning time") {
    val ev = Sources.table(spark, sf("sf0.001"), "events")
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Sources.writeParquetPartitioned(ev, s"$out/ev", Seq("event_type"))
    val one = spark.read.parquet(s"$out/ev")
      .filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("event_type"), plan)
    assert(one.count() == ev.filter(col("event_type") === "click").count())
  }

  test("bucketed tables: co-located join runs with NO exchange") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val ord = Sources.table(spark, sf("sf0.001"), "orders")
      .select("o_orderkey", "o_totalprice")
    Sources.writeBucketed(li, "li_b", "l_orderkey", 4)
    Sources.writeBucketed(ord, "ord_b", "o_orderkey", 4)
    // force a merge join (broadcast would hide the bucketing benefit)
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("ord_b").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n$plan")
    // and the result is the same as the unbucketed join
    assert(joined.count() ==
      li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("JSONL round-trip: pinned schema, no inference, rows and values preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain text", "en", "srcA"),
      (2L, "quotes \" and \\ backslash and\ttab", "en", "srcA"),
      (3L, null.asInstanceOf[String], "de", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    Sources.writeJsonl(docs, s"$dir/docs")
    val back = Sources.jsonl(spark, s"$dir/docs", Sources.documentsJsonlSchema)
    // the JSON source forces nullable=true on every field — pin names
    // and types (the inference-proof part of the contract)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      Sources.documentsJsonlSchema.fields.map(f => (f.name, f.dataType))))
    val got = back.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.sameElements(Array(
      1L -> Some("plain text"),
      2L -> Some("quotes \" and \\ backslash and\ttab"),
      3L -> None)))
  }

  test("shardAssign is a pure function of id; manifest partitions the corpus exactly") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val sharded = Sources.shardAssign(docs, "doc_id", 8)
    // deterministic: assigning twice yields identical shards per id
    val twice = sharded.select(col("doc_id"), col("shard").as("s1"))
      .join(Sources.shardAssign(docs, "doc_id", 8)
        .select(col("doc_id"), col("shard").as("s2")), Seq("doc_id"))
    assert(twice.filter(col("s1") =!= col("s2")).count() == 0)
    // within range, and all shards populated at fixture scale
    assert(sharded.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    val m = Sources.shardManifest(sharded, "doc_id", "text")
    assert(m.count() == 8)
    // manifest totals = corpus totals (every doc in exactly one shard)
    val totals = m.agg(org.apache.spark.sql.functions.sum("n_docs"),
      org.apache.spark.sql.functions.sum("n_chars")).head()
    assert(totals.getLong(0) == docs.count())
    assert(totals.getLong(1) == docs.agg(org.apache.spark.sql.functions
      .sum(org.apache.spark.sql.functions.length(col("text")))).head().getLong(0))
  }

  test("parquetLayoutAudit: footers account for every row and file; " +
      "metadata-only (bytes strictly positive, groups >= 1)") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val out = java.nio.file.Files
      .createTempDirectory("graft-layout").toString
    docs.repartition(3).write.mode("overwrite").parquet(out)
    val audit = Sources.parquetLayoutAudit(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(audit.length == 3)
    assert(audit.map(_._3).sum == docs.count())
    assert(audit.forall(a => a._2 >= 1L && a._4 > 0L && a._5 > 0L))
    assert(audit.forall(_._1.endsWith(".parquet")))
  }

  test("parquetSchemaAudit: one row per leaf on a healthy table; " +
      "writer drift surfaces as duplicate field_name rows") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft-schema").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(s"$out/t")
    val healthy = Sources.parquetSchemaAudit(spark, s"$out/t").collect()
    assert(healthy.length == 2)
    assert(healthy.map(_.getString(0)).sorted.toSeq == Seq("id", "v"))
    assert(healthy.find(_.getString(0) == "id").get.getString(1) == "INT64")
    assert(healthy.find(_.getString(0) == "v").get.getString(3) == "UTF8")
    // a second writer narrows id to int32 — reading the MERGED dir with
    // Spark needs mergeSchema and may still break downstream; the audit
    // shows the drift as two `id` rows, footer-only
    Seq((2, "b")).toDF("id", "v").write.mode("append").parquet(s"$out/t")
    val drifted = Sources.parquetSchemaAudit(spark, s"$out/t").collect()
    assert(drifted.count(_.getString(0) == "id") == 2)
    assert(drifted.map(r => (r.getString(0), r.getString(1))).toSet
      .contains(("id", "INT32")))
    // nested lists report their leaf: embeddings' element is FLOAT
    val emb = Sources.parquetSchemaAudit(
      spark, sf("sf0.001") + "/embeddings.parquet").collect()
    assert(emb.map(r => (r.getString(0), r.getString(1))).toSet
      .contains(("element", "FLOAT")))
  }

  test("jsonlQuarantine: torn lines become auditable rows carrying the " +
      "raw text; good lines parse exactly; nothing is dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jq")
    java.nio.file.Files.writeString(dir.resolve("mixed.json"),
      "{\"doc_id\": 1, \"text\": \"a\", \"lang\": \"en\", \"source\": \"w\"}\n" +
        "{torn\n" +
        "{\"doc_id\": 2, \"text\": \"b\", \"lang\": \"de\", \"source\": \"w\"}\n")
    val df = Sources.jsonlQuarantine(spark, dir.toString,
      Sources.documentsJsonlSchema)
    assert(df.count() == 3)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[String]("_corrupt_record") == "{torn")
    val good = df.filter(col("_corrupt_record").isNull)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(good == Seq(1L, 2L))
  }

  test("compactionPlan: contiguous name-ordered groups near the byte " +
      "target; executing the plan preserves rows at the planned file " +
      "count") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    li.repartition(16).write.parquet(s"$base/frag")
    val audit = Sources.parquetLayoutAudit(spark, s"$base/frag")
    val total = audit.agg(fsum("compressed_bytes")).head().getLong(0)
    val target = total / 3
    val plan = Sources.compactionPlan(audit, target)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(plan.length == 16)
    // groups are contiguous in file_name order
    val ordered = plan.sortBy(_._1).map(_._3)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => b >= a })
    // byte-offset bucketing's envelope: every non-last group's mass
    // lands within one file of the target on BOTH sides (a group's
    // span is next-group-start − own-start; starts drift < maxFile)
    val groups = plan.groupBy(_._3).toSeq.sortBy(_._1)
    val maxFile = plan.map(_._2).max
    groups.init.foreach { case (_, fs) =>
      assert(fs.map(_._2).sum > target - maxFile)
    }
    groups.foreach { case (_, fs) =>
      assert(fs.map(_._2).sum <= target + maxFile)
    }
    // execute: one rewrite task per group
    groups.foreach { case (g, fs) =>
      spark.read.parquet(fs.map(f => s"$base/frag/${f._1}").toIndexedSeq: _*)
        .coalesce(1).write.mode("append").parquet(s"$base/compacted")
    }
    assert(spark.read.parquet(s"$base/compacted").count() == li.count())
    val after = Sources.parquetLayoutAudit(spark, s"$base/compacted")
    assert(after.count() == groups.length)
  }

  test("zorderCode interleaves bits (a even, b odd); writeZOrdered " +
      "tiles BOTH dimensions where a 1-D sort bounds only its own") {
    import spark.implicits._
    val code = Seq((5L, 3L)).toDF("a", "b")
      .select(Sources.zorderCode(col("a"), col("b"), 3)).head().getLong(0)
    assert(code == 27L) // 101 ⨯ 011 → 011011
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val base = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString
    // 1-D layout: range-sorted by l_orderkey only
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.parquet(s"$base/sorted")
    Sources.writeZOrdered(li, s"$base/z", "l_orderkey", "l_partkey",
      bits = 21, files = 8)
    // a mid-range band on the NON-sort dimension: how many files could
    // a stats-pruning scan skip under each layout?
    def overlapping(dir: String): Long = {
      import org.apache.spark.sql.functions.{min, max}
      val bounds = li.agg(min("l_partkey"), max("l_partkey")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val (bandLo, bandHi) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)
      Sources.parquetStatsAudit(spark, dir, Seq("l_partkey"))
        .filter(col("min_val") <= bandHi && col("max_val") >= bandLo)
        .count()
    }
    val (oneD, z) = (overlapping(s"$base/sorted"), overlapping(s"$base/z"))
    // the orderkey-sorted layout leaves partkey unbounded per file —
    // every file overlaps the band; the Z-curve tiles partkey too
    assert(oneD == 8L, s"1-D layout overlapped $oneD files")
    assert(z < oneD, s"z-order overlapped $z of $oneD")
    // and the z files still hold all the rows
    assert(spark.read.parquet(s"$base/z").count() == li.count())
  }

  test("writeRangeSorted + rangeLayoutAudit: disjoint envelopes on the " +
      "sorted layout; the audit catches an unsorted one") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val base = "/root/repo/target/spec_range"
    Sources.writeRangeSorted(li, s"$base/sorted", "l_orderkey", 8)
    val audit = Sources.rangeLayoutAudit(spark, s"$base/sorted",
      "l_orderkey").collect()
    assert(audit.length == 8)
    assert(audit.forall(!_.getBoolean(3)), "range layout must be disjoint")
    // no rows lost, global envelope preserved
    assert(spark.read.parquet(s"$base/sorted").count() == li.count())
    // a hash-partitioned write scatters every key range across every
    // file — the audit must flag (all but the first) files
    li.repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$base/hashed")
    val bad = Sources.rangeLayoutAudit(spark, s"$base/hashed",
      "l_orderkey").collect()
    assert(bad.count(_.getBoolean(3)) == bad.length - 1,
      "hash layout must overlap everywhere")
    // skipEstimate: a middle-fifth band on the range layout touches a
    // minority of files; on the hash layout it touches ALL of them —
    // the estimator quantifies exactly the win the writer claims
    val good = Sources.skipEstimate(
      Sources.rangeLayoutAudit(spark, s"$base/sorted", "l_orderkey"),
      2L, 3L, 5L).as[(Long, Long, Long, Long, Long, Double)]
      .collect().head
    assert(good._1 == 8L && good._4 <= 3L && good._5 >= 5L,
      s"range layout should skip most files: $good")
    val none = Sources.skipEstimate(
      Sources.rangeLayoutAudit(spark, s"$base/hashed", "l_orderkey"),
      2L, 3L, 5L).as[(Long, Long, Long, Long, Long, Double)]
      .collect().head
    assert(none._4 == 8L && none._5 == 0L && none._6 == 0.0,
      s"hash layout skips nothing: $none")
  }

  test("orc sink/scan round-trip preserves rows, schema names, and " +
      "values exactly") {
    import spark.implicits._
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, null, 0.0))
      .toDF("id", "name", "score")
    val path = "target/test_orc_roundtrip"
    Sources.writeOrc(df, path)
    val back = Sources.orc(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }
}
