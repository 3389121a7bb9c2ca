package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Storage and layout: interchange round-trips (CSV, JSONL, ORC,
  * bucketed), parquet layout/stats/schema audits and compaction. */
private[graft] object StorageQueries {

  /** q164 Z-order: 21 bits per dimension (keys to ~2M — headroom past
    * every fixture SF) interleaved into a 42-bit Morton code; 8 range-
    * split files so per-file envelopes are visibly tiled at sf0.01. */
  val ZorderBits = 21
  val ZorderFiles = 8

  /** q107 sharded-export manifest: shard count of the training export. */
  val ManifestShards = 8

  /** q106's JSONL fixture directory — keyed on the sf dir so concurrent
    * SFs never clobber each other (same convention as [[q41CsvPath]]). */
  def q106JsonlPath(dir: String): String =
    "/root/repo/target/q106_jsonl_" + dir.split('/').last

  /** q250 ORC round-trip scratch dir (one per SF, like q106's). */
  def q250OrcPath(dir: String): String =
    "/root/repo/target/q250_orc_" + dir.split('/').last

  /** q179 range-sorted layout file count — [[ZorderFiles]]' twin so the
    * one-column and two-column layouts are comparable. */
  val RangeFiles = 8

  /** q193 skip-estimate band: the middle fifth of the key range
    * (numerators over [[SkipBandDen]]). */
  val SkipBandLo = 2L
  val SkipBandHi = 3L
  val SkipBandDen = 5L

  /** q41's CSV fixture directory — keyed on the sf dir so concurrent
    * Verify/Bench runs at different scales never clobber each other. The
    * oracle SQL carries [[SfToken]] so it follows the active SF. */
  def q41CsvPath(dir: String): String =
    "/root/repo/target/q41_csv_" + dir.split('/').last

  /** q144's stored chunk-index directory — same per-SF keying as
    * [[q41CsvPath]]; the oracle carries [[SfToken]]. */
  def q144IdxPath(dir: String): String =
    "/root/repo/target/q144_chunk_idx_" + dir.split('/').last

  /** q158's audited multi-file parquet directory — written by the query
    * itself (4 hash partitions of lineitem), same per-SF keying and
    * [[SfToken]] oracle convention as [[q144IdxPath]]. */
  def q158LayoutPath(dir: String): String =
    "/root/repo/target/q158_layout_" + dir.split('/').last

  /** q159's audited Hive-partitioned directory — [[q158LayoutPath]]'s
    * convention, one subdirectory per partition value. */
  def q159LayoutPath(dir: String): String =
    "/root/repo/target/q159_layout_" + dir.split('/').last

  /** q164's Z-ordered sink directory — [[q158LayoutPath]]'s convention. */
  def q164LayoutPath(dir: String): String =
    "/root/repo/target/q164_zorder_" + dir.split('/').last

  /** q165's JSONL ingest fixture (good export + planted torn lines) —
    * [[q106JsonlPath]]'s convention. */
  def q165JsonlPath(dir: String): String =
    "/root/repo/target/q165_jsonl_" + dir.split('/').last

  /** q172's deliberately fragmented sink — [[q158LayoutPath]]'s
    * convention. */
  def q172LayoutPath(dir: String): String =
    "/root/repo/target/q172_frag_" + dir.split('/').last

  /** q179's range-sorted sink directory — [[q158LayoutPath]]'s
    * convention. */
  def q179LayoutPath(dir: String): String =
    "/root/repo/target/q179_range_" + dir.split('/').last

  /** q193's skip-estimate layout directory — own path so the q179/q193
    * writes can never race under a parallel Verify. */
  def q193LayoutPath(dir: String): String =
    "/root/repo/target/q193_range_" + dir.split('/').last

  /** q172 compaction target: quarter of the fixture sink's compressed
    * mass, so the plan visibly folds ~32 fragments into ~4 groups. */
  val CompactTargetFrac = 4L

  val all: Seq[Query] = Seq(

    // Bucketed-sink roundtrip under the driver gate (the q250 protocol
    // for the CO-LOCATED-JOIN layout): the interchange slice saved as
    // a bucketed+sorted parquet table, read back through the catalog,
    // aggregated — content-equal to the parquet original. The rows
    // collect before the table drops (the catalog owns the files).
    Query("q272_bucketed_roundtrip", (s, dir) => {
      val tbl = s"q272_bucketed_${java.util.UUID.randomUUID().toString
        .replace("-", "")}"
      // try/finally: a failure anywhere between write and collect must
      // still drop the UUID-named managed table, or its bucketed files
      // leak into the warehouse for the rest of the Verify run
      val (rows, schema) = try {
        Sources.writeBucketed(t(s, dir, "documents")
            .filter(col("doc_id") % 8 === 1)
            .select(col("doc_id"), col("text"), col("lang"), col("source")),
          tbl, "doc_id", 8)
        val out = s.table(tbl)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("n_chars"),
            countDistinct(col("lang")).as("n_langs"),
            max(col("doc_id")).as("max_id"))
          .orderBy("source")
        (out.collect(), out.schema)
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("source")
    },
    // q272: the q250 content-equality protocol over the bucketed slice.
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  count(DISTINCT lang) AS n_langs, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 8 = 1
        |GROUP BY source ORDER BY source""".stripMargin),

    // ORC round-trip: the interchange slice written as ORC, read
    // back, aggregated — hashed against the parquet original, so the
    // format conversion is content-equal under the driver's gate.
    Query("q250_orc_roundtrip", (s, dir) => {
      val path = q250OrcPath(dir)
      Sources.writeOrc(t(s, dir, "documents")
        .filter(col("doc_id") % 8 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .repartition(1), path)
      Sources.orc(s, path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          max(col("doc_id")).as("max_id"))
        .orderBy("source")
    },
    // q250: DuckDB cannot read ORC, and doesn't need to — the oracle
    // aggregates the PARQUET original of the same slice; matching
    // hashes prove the ORC write→read preserved content exactly.
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  count(DISTINCT lang) AS n_langs, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 8 = 0
        |GROUP BY source ORDER BY source""".stripMargin),

    // Chunk-index-at-rest interchange: the q140 flow's persistent
    // artifact — the CDC chunk-hash index written as parquet by Spark,
    // read back, and (via the oracle reading the SAME files) proven
    // DuckDB-readable with identical values. The WRITE is fixture
    // plumbing; the stored-index SCAN is the operator under test.
    Query("q144_chunk_index_roundtrip", (s, dir) => {
      val path = q144IdxPath(dir)
      Text.chunkContentDefined(t(s, dir, "documents"), "text",
          CdcDivisor, "cdc")
        .groupBy(md5(col("chunk").cast("binary")).as("chunk_hash"))
        .agg(count(lit(1)).as("n_refs"), sum(col("n_tokens")).as("n_tokens"))
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .agg(count(lit(1)).as("n_unique_chunks"),
          sum(col("n_refs")).as("n_chunk_refs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("chunk_hash")).as("n_hashes"))
    },
    // q144: the oracle reads the SPARK-WRITTEN parquet files — the
    // interchange check that the stored index is engine-portable.
      s"""SELECT count(*)::BIGINT AS n_unique_chunks,
         |  sum(n_refs)::BIGINT AS n_chunk_refs,
         |  sum(n_tokens)::BIGINT AS n_tokens,
         |  count(DISTINCT chunk_hash)::BIGINT AS n_hashes
         |FROM read_parquet('${q144IdxPath(SfToken)}/*.parquet')
         |""".stripMargin),

    // JSONL interchange round-trip: write a documents slice as JSON
    // lines once (the corpus-release boundary format), read it back
    // through Sources.jsonl with the PINNED schema (no inference), and
    // aggregate — DuckDB hash-verifies the Spark-written files. The
    // single-partition write is fixture plumbing; the READ is the
    // operator under test and globs directories like any corpus.
    Query("q106_jsonl_roundtrip", (s, dir) => {
      val path = q106JsonlPath(dir)
      t(s, dir, "documents")
        .filter(col("doc_id") % 8 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .repartition(1)
        .write.mode("overwrite").json(path)
      Sources.jsonl(s, path, Sources.documentsJsonlSchema)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          max(col("doc_id")).as("max_id"))
        .orderBy("source")
    },
    // q106: same aggregate over the same JSONL files Spark wrote and
    // read — read_json with explicit column types mirrors the pinned
    // StructType (format='newline_delimited' = JSON lines).
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  count(DISTINCT lang) AS n_langs, max(doc_id) AS max_id
         |FROM read_json('${q106JsonlPath(SfToken)}/*.json',
         |  format='newline_delimited',
         |  columns={'doc_id': 'BIGINT', 'text': 'VARCHAR',
         |           'lang': 'VARCHAR', 'source': 'VARCHAR'})
         |GROUP BY source ORDER BY source""".stripMargin),

    // Sharded-export manifest: deterministic hash-shard assignment plus
    // the per-shard (docs, tokens, chars, id-range) sidecar a training
    // loader plans epochs from — all relational, oracle-recomputable.
    Query("q107_shard_manifest", (s, dir) => {
      Sources.shardManifest(
        Sources.shardAssign(t(s, dir, "documents"), "doc_id",
          ManifestShards),
        "doc_id", "text")
    },
    // q107: the portable hash keeps shard assignment engine-identical;
    // the 60-bit hash is non-negative so % equals pmod.
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    ${Portable.sqlHash("doc_id")} % $ManifestShards AS shard
         |  FROM documents
         |)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin),

    // Parquet layout audit: write a 4-file hash-partitioned table, then
    // read ONLY its footers back — per file row groups / rows /
    // compressed / uncompressed bytes. The oracle reads the same
    // footers through DuckDB's parquet_metadata(), so the audit is
    // verified bit-for-bit against an independent parquet
    // implementation (the q144 sink-interchange pattern for METADATA).
    Query("q158_parquet_layout", (s, dir) => {
      val path = q158LayoutPath(dir)
      t(s, dir, "lineitem").repartition(4, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
      Sources.parquetLayoutAudit(s, path).orderBy("file_name")
    },
    // q158: the same footers through DuckDB's own parquet reader —
    // column-chunk metadata rolls up to (row group) then (file).
      s"""WITH cc AS (
         |  SELECT file_name, row_group_id,
         |    max(row_group_num_rows) AS rg_rows,
         |    sum(total_compressed_size) AS comp,
         |    sum(total_uncompressed_size) AS unc
         |  FROM parquet_metadata('${q158LayoutPath(SfToken)}/*.parquet')
         |  GROUP BY file_name, row_group_id
         |)
         |SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         |  count(*)::BIGINT AS n_row_groups,
         |  sum(rg_rows)::BIGINT AS n_rows,
         |  sum(comp)::BIGINT AS compressed_bytes,
         |  sum(unc)::BIGINT AS uncompressed_bytes
         |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin),

    // The layout audit over a Hive-PARTITIONED sink: the recursive walk
    // surfaces per-partition layout (file_name carries the partition
    // subdir), which is where the small-files problem actually lives —
    // a fine-grained partition key multiplies the file count by its
    // cardinality.
    Query("q159_partitioned_layout", (s, dir) => {
      val path = q159LayoutPath(dir)
      Sources.writeParquetPartitioned(
        t(s, dir, "lineitem").repartition(2, col("l_orderkey")),
        path, Seq("l_returnflag"))
      Sources.parquetLayoutAudit(s, path).orderBy("file_name")
    },
    // q159: one partition level — the glob matches dir/value/file and
    // the relative name strips the audit root, matching the engine's
    // root-relative file_name.
      s"""WITH cc AS (
         |  SELECT replace(file_name, '${q159LayoutPath(SfToken)}/', '')
         |      AS rel_name,
         |    row_group_id,
         |    max(row_group_num_rows) AS rg_rows,
         |    sum(total_compressed_size) AS comp,
         |    sum(total_uncompressed_size) AS unc
         |  FROM parquet_metadata('${q159LayoutPath(SfToken)}/*/*.parquet')
         |  GROUP BY rel_name, row_group_id
         |)
         |SELECT rel_name AS file_name,
         |  count(*)::BIGINT AS n_row_groups,
         |  sum(rg_rows)::BIGINT AS n_rows,
         |  sum(comp)::BIGINT AS compressed_bytes,
         |  sum(unc)::BIGINT AS uncompressed_bytes
         |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin),

    // The schema-drift audit over heterogeneous tables: distinct leaf
    // columns straight from the parquet footers — flat scalars
    // (lineitem), strings + timestamps (events), and a nested
    // list<float> (embeddings, whose `element` leaf is the row that
    // proves nesting walks correctly). The storage-level form of the
    // reference's column-count/dtype gates (Q3/Q4): what the FILES
    // declare, not what a reader inferred.
    Query("q160_schema_audit", (s, dir) => {
      Seq("lineitem", "events", "embeddings").map { name =>
        Sources.parquetSchemaAudit(s, s"$dir/$name.parquet")
          .withColumn("table_name", lit(name))
      }.reduce(_.unionByName(_))
        .select(col("table_name"), col("field_name"), col("physical_type"),
          col("repetition"), col("converted_type"))
        .orderBy("table_name", "field_name")
    },
    // q160: DuckDB reads the same footers; leaf columns are the rows
    // with no children. DISTINCT matches the engine's cross-file
    // distinct (single-file fixtures make it a no-op, but the CONTRACT
    // is distinct-leaf-set, so the oracle says so too).
      Seq("lineitem", "events", "embeddings").map { name =>
        s"""SELECT DISTINCT '$name' AS table_name, name AS field_name,
           |  type AS physical_type, repetition_type AS repetition,
           |  converted_type
           |FROM parquet_schema('/root/testdata/$SfToken/$name.parquet')
           |WHERE num_children IS NULL""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, field_name")),

    // Malformed-record quarantine on JSONL ingest: a clean export plus
    // a planted file of torn lines (one GOOD line among them proving
    // location doesn't matter), read under the PERMISSIVE contract —
    // per-source counts with an id checksum, corrupt lines as their
    // own auditable bucket instead of a silent drop or a dead job.
    Query("q165_jsonl_quarantine", (s, dir) => {
      val path = q165JsonlPath(dir)
      Sources.writeJsonl(t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select("doc_id", "text", "lang", "source"), path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "zz_corrupt.json"),
        "{\"doc_id\": 9001, \"text\": \"ok line\", " +
          "\"lang\": \"en\", \"source\": \"web\"}\n" +
          "{not json at all\n" +
          "]]]{{\n" +
          "{\"doc_id\": \n")
      Sources.jsonlQuarantine(s, path, Sources.documentsJsonlSchema)
        .withColumn("bucket",
          when(col("_corrupt_record").isNotNull, lit("__corrupt__"))
            .otherwise(col("source")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_lines"),
          coalesce(sum("doc_id"), lit(0L)).as("id_sum"))
        .orderBy("bucket")
    },
    // q165: DuckDB's ignore_errors surfaces each torn line as an
    // all-NULL row (one per line — verified behavior), so the corrupt
    // bucket is doc_id IS NULL; good lines always carry doc_id.
      s"""WITH j AS (
         |  SELECT * FROM read_json('${q165JsonlPath(SfToken)}/*.json',
         |    format='newline_delimited',
         |    columns={'doc_id':'BIGINT','text':'VARCHAR',
         |             'lang':'VARCHAR','source':'VARCHAR'},
         |    ignore_errors=true)
         |)
         |SELECT CASE WHEN doc_id IS NULL THEN '__corrupt__'
         |            ELSE source END AS bucket,
         |  count(*)::BIGINT AS n_lines,
         |  coalesce(sum(doc_id), 0)::BIGINT AS id_sum
         |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Compaction plan: a deliberately fragmented sink (32 small files)
    // audited, then cut into ~4 contiguous byte-range groups of ≈¼ the
    // total mass — the metadata-only OPTIMIZE plan whose groups are
    // rewrite tasks. The 1-row total probe is a bounded driver read.
    Query("q172_compaction_plan", (s, dir) => {
      val path = q172LayoutPath(dir)
      Sources.writeParquet(t(s, dir, "lineitem").repartition(32), path)
      val audit = Sources.parquetLayoutAudit(s, path)
      val total = audit.agg(sum(col("compressed_bytes"))).head().getLong(0)
      Sources.compactionPlan(audit,
          math.max(1L, total / CompactTargetFrac))
        .orderBy("file_name")
    },
    // q172: same footers, same cumulative-offset cut — integer byte
    // offsets make the group function exact in both engines.
      s"""WITH cc AS (
         |  SELECT replace(file_name, '${q172LayoutPath(SfToken)}/', '')
         |      AS file_name,
         |    sum(total_compressed_size)::BIGINT AS compressed_bytes
         |  FROM parquet_metadata('${q172LayoutPath(SfToken)}/*.parquet')
         |  GROUP BY 1
         |),
         |tgt AS (SELECT greatest(1, sum(compressed_bytes)
         |          // $CompactTargetFrac)::BIGINT AS t FROM cc),
         |cum AS (
         |  SELECT file_name, compressed_bytes,
         |    coalesce(sum(compressed_bytes) OVER (ORDER BY file_name
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS off
         |  FROM cc
         |),
         |g AS (SELECT file_name, compressed_bytes,
         |        (off // tgt.t)::BIGINT AS grp FROM cum, tgt),
         |tot AS (SELECT grp, count(*)::BIGINT AS grp_files,
         |          sum(compressed_bytes)::BIGINT AS grp_bytes
         |        FROM g GROUP BY 1)
         |SELECT g.file_name, g.compressed_bytes, g.grp,
         |       tot.grp_files, tot.grp_bytes
         |FROM g JOIN tot USING (grp) ORDER BY file_name""".stripMargin),

    // Z-order layout + stats audit: lineitem written along the Morton
    // curve of (l_orderkey, l_partkey), then the per-file min/max
    // envelopes of BOTH dimensions read back from the same footer
    // stats a scan planner prunes with — the multi-dimension
    // data-skipping lever, quantified. (SourcesSpec proves the curve
    // actually tiles: a mid-range band on EITHER dimension overlaps
    // strictly fewer files than a one-dimension sort gives the other.)
    Query("q164_zorder_stats", (s, dir) => {
      val path = q164LayoutPath(dir)
      Sources.writeZOrdered(t(s, dir, "lineitem"), path,
        "l_orderkey", "l_partkey", ZorderBits, ZorderFiles)
      Sources.parquetStatsAudit(s, path, Seq("l_orderkey", "l_partkey"))
        .orderBy("file_name", "col_name")
    },
    // q164: DuckDB reads the same row-group statistics; per-file
    // envelope = min/max over row groups, stats decoded from the
    // VARCHAR projection parquet_metadata exposes.
      s"""WITH cc AS (
         |  SELECT replace(file_name, '${q164LayoutPath(SfToken)}/', '')
         |      AS file_name,
         |    path_in_schema AS col_name,
         |    CAST(stats_min_value AS BIGINT) AS mn,
         |    CAST(stats_max_value AS BIGINT) AS mx
         |  FROM parquet_metadata('${q164LayoutPath(SfToken)}/*.parquet')
         |  WHERE path_in_schema IN ('l_orderkey', 'l_partkey')
         |)
         |SELECT file_name, col_name,
         |  min(mn)::BIGINT AS min_val, max(mx)::BIGINT AS max_val
         |FROM cc GROUP BY 1, 2
         |ORDER BY file_name, col_name""".stripMargin),

    // S1 literal CSV path: write a fixture slice as header CSV once (the
    // reference's order_products__train.csv shape), read it back through
    // Sources.csv with the PINNED orderProductsSchema (no inference —
    // the exact production read), aggregate. The single-partition write
    // is fixture plumbing, not the scale path; the READ is the operator
    // under test and globs directories like any 100 TB table.
    Query("q41_csv_roundtrip", (s, dir) => {
      val path = q41CsvPath(dir)
      // S3/S6/S7 carrier: the CSV leg goes through Sources.writeCsv —
      // the same sink the embeddings/tuning-table exports use.
      Sources.writeCsv(
        t(s, dir, "lineitem")
          // deterministic ~1/16 slice: the fixture write is plumbing,
          // not the operator under test — keep it cheap at any SF
          .filter(col("l_orderkey") % 16 === 0)
          .select(col("l_orderkey").as("order_id"),
            col("l_partkey").as("product_id"),
            col("l_linenumber").as("add_to_cart_order"),
            (col("l_linenumber") % 2).as("reordered"))
          .repartition(1),
        path)
      Sources.csv(s, path, Sources.orderProductsSchema)
        .groupBy(col("reordered"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("product_id")).as("n_products"),
          sum(col("add_to_cart_order")).as("sum_pos"))
        .orderBy("reordered")
    },
    // q41: same aggregate over the same CSV files Spark wrote and read —
    // read_csv with explicit column types mirrors the pinned StructType.
      s"""SELECT reordered, count(*) AS n_rows,
         |  count(DISTINCT product_id) AS n_products,
         |  CAST(sum(add_to_cart_order) AS BIGINT) AS sum_pos
         |FROM read_csv('${q41CsvPath(SfToken)}/*.csv',
         |  header=true,
         |  columns={'order_id': 'BIGINT', 'product_id': 'BIGINT',
         |           'add_to_cart_order': 'BIGINT', 'reordered': 'BIGINT'})
         |GROUP BY reordered ORDER BY reordered""".stripMargin),

    // Range-sorted layout + disjointness audit: lineitem written
    // range-partitioned and sorted on l_orderkey, then each file's
    // footer [min, max] envelope checked against its predecessor —
    // the single-dimension data-skipping twin of q164's Z-order.
    Query("q179_range_layout", (s, dir) => {
      val path = q179LayoutPath(dir)
      Sources.writeRangeSorted(t(s, dir, "lineitem"), path,
        "l_orderkey", RangeFiles)
      Sources.rangeLayoutAudit(s, path, "l_orderkey")
        .orderBy("min_val", "file_name")
    },
    // q179: the same footer stats the q164 audit reads, reduced to
    // per-file envelopes of the one sort column, lag-checked for
    // overlap in (min, name) order.
      s"""WITH cc AS (
         |  SELECT replace(file_name, '${q179LayoutPath(SfToken)}/', '')
         |      AS file_name,
         |    CAST(stats_min_value AS BIGINT) AS mn,
         |    CAST(stats_max_value AS BIGINT) AS mx
         |  FROM parquet_metadata('${q179LayoutPath(SfToken)}/*.parquet')
         |  WHERE path_in_schema = 'l_orderkey'
         |),
         |f AS (
         |  SELECT file_name, min(mn)::BIGINT AS min_val,
         |    max(mx)::BIGINT AS max_val
         |  FROM cc GROUP BY 1
         |),
         |w AS (
         |  SELECT file_name, min_val, max_val,
         |    lag(max_val) OVER (ORDER BY min_val, file_name) AS pm
         |  FROM f
         |)
         |SELECT file_name, min_val, max_val,
         |  coalesce(min_val <= pm, false) AS overlaps_prev
         |FROM w ORDER BY min_val, file_name""".stripMargin),

    // Data-skipping estimate on the range-sorted layout: how many
    // files a middle-fifth band predicate actually touches — the
    // number the layout writers exist to move, from the same footer
    // stats the planner prunes with.
    Query("q193_skip_estimate", (s, dir) => {
      val path = q193LayoutPath(dir)
      Sources.writeRangeSorted(t(s, dir, "lineitem"), path,
        "l_orderkey", RangeFiles)
      Sources.skipEstimate(
        Sources.rangeLayoutAudit(s, path, "l_orderkey"),
        SkipBandLo, SkipBandHi, SkipBandDen)
    },
    // q193: per-file envelopes from the same footer stats, the band in
    // exact integer arithmetic, intersection = the planner's min/max
    // pruning test.
      s"""WITH cc AS (
         |  SELECT replace(file_name, '${q193LayoutPath(SfToken)}/', '')
         |      AS file_name,
         |    CAST(stats_min_value AS BIGINT) AS mn,
         |    CAST(stats_max_value AS BIGINT) AS mx
         |  FROM parquet_metadata('${q193LayoutPath(SfToken)}/*.parquet')
         |  WHERE path_in_schema = 'l_orderkey'
         |),
         |f AS (
         |  SELECT file_name, min(mn)::BIGINT AS min_val,
         |    max(mx)::BIGINT AS max_val
         |  FROM cc GROUP BY 1
         |),
         |g AS (SELECT min(min_val)::BIGINT AS gmin,
         |             max(max_val)::BIGINT AS gmax FROM f),
         |b AS (
         |  SELECT gmin + ((gmax - gmin) * $SkipBandLo) // $SkipBandDen
         |      AS band_lo,
         |    gmin + ((gmax - gmin) * $SkipBandHi) // $SkipBandDen
         |      AS band_hi
         |  FROM g
         |)
         |SELECT count(*)::BIGINT AS n_files, b.band_lo, b.band_hi,
         |  sum(CASE WHEN f.min_val <= b.band_hi
         |        AND f.max_val >= b.band_lo THEN 1 ELSE 0 END)::BIGINT
         |    AS n_touched,
         |  (count(*) - sum(CASE WHEN f.min_val <= b.band_hi
         |        AND f.max_val >= b.band_lo THEN 1 ELSE 0 END))::BIGINT
         |    AS n_skipped,
         |  round(CAST(CAST(floor(round(CAST(count(*) - sum(CASE WHEN f.min_val <= b.band_hi
         |        AND f.max_val >= b.band_lo THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS skip_ratio
         |FROM f CROSS JOIN b
         |GROUP BY b.band_lo, b.band_hi""".stripMargin)
  )
}
