package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-pinned sources & sinks (SURVEY.md §2.1).
  *
  * The reference ingests CSV from S3 with pandas dtype *inference* then
  * asserts dtypes post-hoc (`utils/util_functions.py:5-27`,
  * `pipeline/data_preprocessing/data_quality_checks.py:86-109`). We invert
  * that: every production read carries an explicit [[StructType]]; inference
  * never runs. Inter-stage exchange is Parquet (schema-carrying, splittable)
  * instead of pickled Python lists (`data_prep.py:204-234`).
  *
  * Scale posture: paths are glob-able directories, so a 100 TB table is just
  * more files behind the same call; Catalyst pushes filters/column pruning
  * into the Parquet scan (verify via `.explain` → `PushedFilters`,
  * `ReadSchema`).
  */
object Sources {

  /** Basket fact table schema — mirror of `order_products__train.csv`
    * asserted at `data_quality_checks.py:163-183`. */
  val orderProductsSchema: StructType = StructType(Seq(
    StructField("order_id", LongType, nullable = false),
    StructField("product_id", LongType, nullable = false),
    StructField("add_to_cart_order", LongType, nullable = true),
    StructField("reordered", LongType, nullable = true)))

  /** S1: header CSV scan with a pinned schema (no inference). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Fixture-table reader: `<dir>/<name>.parquet` (TESTDATA.md layout). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to epoch NANOSECONDS in a BIGINT —
    * the engine's event-time contract ([[graft.ops.Events]] does pure
    * integer floor math on it; the DuckDB oracle computes the identical
    * value with `epoch_ns(ts)`). The adapter absorbs both vintages the
    * fixture has shipped as: INT64 TIMESTAMP(NANOS) parquet (read as
    * LongType under `spark.sql.legacy.parquet.nanosAsLong=true` — passes
    * through) and TIMESTAMP(MICROS) parquet (read as TIMESTAMP_NTZ —
    * converted via `unix_micros`, exact under the UTC session timezone
    * every [[graft.conf.Sessions]] build pins). Normalizing at INGEST
    * keeps the conversion a one-time map in the scan projection instead
    * of re-deriving time per operator — and the rest of the engine stays
    * engine-portable integer arithmetic. */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            raw.col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalArgumentException(
        s"events.ts must be epoch-ns BIGINT or a timestamp, got $other")
    }
  }

  /** S2/S3/S6/S7: Parquet sink (replaces pickle/CSV uploads). Partition
    * count is left to the caller — at 100 TB you want the writer
    * parallelism of the final stage, never a blanket coalesce(1). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Human-readable CSV export (S6's `to_csv` analog) — only for small
    * result tables (embeddings report, tuning table). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Hive-style partitioned parquet sink: one directory per value of the
    * partition columns, so reads filtered on them prune whole
    * directories at PLANNING time (`PartitionFilters` in the scan — the
    * SourcesSpec pins it). The 100 TB lever for low-cardinality filter
    * columns (date, source, event_type); do NOT partition on
    * high-cardinality keys (millions of dirs kill the listing). */
  def writeParquetPartitioned(df: DataFrame, path: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** ORC sink — the columnar interchange format the Hive/Trino side
    * of a lakehouse speaks. Same writer-parallelism contract as
    * [[writeParquet]]; ORC carries its own schema and per-stripe
    * stats, so the read side stays splittable with pushdown. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** ORC scan (schema from the file footer — ORC is self-describing,
    * so unlike [[jsonl]] no caller schema is needed and no inference
    * pass runs). q250 round-trips the documents interchange slice
    * through [[writeOrc]] → here and hashes the content against the
    * parquet original — format-independent content equality. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-pinned JSONL scan — one JSON object per line, the lingua
    * franca of LLM-corpus interchange (every public corpus release and
    * every training loader speaks it). Same inversion as [[csv]]: the
    * caller supplies the [[StructType]], inference NEVER runs — on a
    * 100 TB corpus a schema-inference pre-pass is a full extra scan,
    * and a drifting inferred type (a doc whose `id` happens to parse
    * numeric) silently corrupts downstream joins. JSON lines are
    * newline-split, so the format is splittable: a directory of .jsonl
    * files fans out like any parquet table, filters/pruning push into
    * the scan. Malformed lines follow the standard PERMISSIVE contract
    * (nulls), so one bad crawl record cannot kill an ingest job. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** The documents-table interchange schema (q106's round-trip): the
    * columns a corpus release ships per JSON line. */
  val documentsJsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** [[jsonl]] with the malformed-record QUARANTINE made explicit: the
    * PERMISSIVE contract surfaces each unparseable line as a row whose
    * `_corrupt_record` column holds the raw text (parsed columns null),
    * instead of silently dropping it or killing the job. Real crawl
    * dumps always contain torn lines; at 100 TB the difference between
    * "0.3% of lines quarantined, here they are" and a silent drop is an
    * auditable corpus. Filter `_corrupt_record IS NOT NULL` to route
    * the quarantine to its own sink; q165 reports the split per source
    * with an id checksum proving good lines still parse exactly. */
  def jsonlQuarantine(spark: SparkSession, path: String,
                      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType,
        nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** JSONL sink — the interchange-format twin of [[writeParquet]].
    * Text-encoded and schema-free, so ~3-5× the bytes of parquet:
    * use it at the corpus BOUNDARY (handing training data to a
    * loader), never for inter-stage exchange. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Deterministic shard assignment: `shard = hash(id) mod nShards`
    * with the engine-portable [[graft.ops.Portable]] hash, so the
    * shard of a document is a pure function of its id — stable across
    * runs, partitionings and engines (the DuckDB oracle recomputes it,
    * q107). Hash-sharding spreads volume uniformly regardless of id
    * clustering (sequential crawl ids land on different shards), the
    * property a training loader needs to stream shards concurrently
    * with balanced progress. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    df.withColumn("shard",
      pmod(Portable.seededHash(col(idCol)), lit(nShards.toLong)))
  }

  /** Per-shard manifest of a [[shardAssign]]'d corpus: doc count, token
    * and char volume, id range. This is the sidecar a sharded training
    * export ships so the loader can plan epochs WITHOUT scanning data
    * files (total tokens per shard → steps per epoch; id ranges →
    * resumable cursors). One doc-keyed aggregation, map-side combined;
    * output is nShards rows. Pair with
    * `writeParquetPartitioned(sharded, path, Seq("shard"))` for the
    * actual data files — directory-per-shard, which is exactly the
    * layout a per-shard reader prunes at planning time. */
  def shardManifest(sharded: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col(textCol))).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))
      .orderBy("shard")

  /** Bucketed managed-table sink: pays the shuffle ONCE at write time
    * (`numBuckets` buckets by hash of `bucketCol`, sorted within each
    * bucket) so every later equi-join or aggregation keyed on the same
    * column scans co-located, pre-sorted buckets — exchange-free
    * (SourcesSpec pins the plan). This is the 100 TB lever for a fact
    * table that is joined/grouped on the same key by many downstream
    * jobs: the per-query shuffle disappears. Spark bucketing lives in
    * the catalog (`saveAsTable`) — path-only parquet carries no bucket
    * metadata. Reread with `spark.table(name)`. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** The footer scan under the parquet audits: lists every `.parquet`
    * file below `dirPath` (recursively, sorted), fans the list out over
    * at most 32 partitions, and opens each footer once, closing it after
    * `read` turns (file path, footer) into rows. Returns the rows and
    * the qualified root URI with a trailing `/`, whose length strips
    * paths to root-relative names. */
  private def footerScan[T: scala.reflect.ClassTag](spark: SparkSession,
      dirPath: String)(
      read: (String, org.apache.parquet.hadoop.metadata.ParquetMetadata) =>
        Seq[T]): (org.apache.spark.rdd.RDD[T], String) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dirPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val it = fs.listFiles(root, /* recursive = */ true)
    val files = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 32)))
      .mapPartitions { fit =>
        val conf = new org.apache.hadoop.conf.Configuration()
        fit.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try read(p, r.getFooter) finally r.close()
        }
      }
    (rows, rootUri)
  }

  /** Parquet LAYOUT audit — per file: row-group count, rows,
    * compressed/uncompressed bytes, straight from the footers. The
    * physical-layout health check a 100 TB table needs BEFORE anyone
    * queries it: thousands of KB-sized files (the small-files problem)
    * or single-row-group multi-GB files (no intra-file parallelism, no
    * row-group pruning) both read as pathologies here long before they
    * read as slow queries. Metadata-only — footer reads, never data
    * pages; the file list fans out over the cluster (`parallelize` +
    * per-partition `ParquetFileReader`), so auditing a 100k-file table
    * is a few thousand footer RPCs per executor, not a driver loop.
    * DuckDB's `parquet_metadata()` reads the same footers, which makes
    * the audit oracle-checkable bit-for-bit (q158; q159 audits a
    * Hive-partitioned sink through the same recursive walk).
    *
    * Listing RECURSES (Hive-partitioned tables are directory trees)
    * and `file_name` is the path RELATIVE to the audit root, so a
    * partitioned table's rows read `source=wiki/part-….parquet` — the
    * audit shows per-partition layout for free. */
  def parquetLayoutAudit(spark: SparkSession, dirPath: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (rows, rootUri) = footerScan(spark, dirPath) { (p, footer) =>
      val blocks = footer.getBlocks.asScala.toSeq
      Seq((p, blocks.size.toLong,
        blocks.map(_.getRowCount).sum,
        blocks.map(_.getCompressedSize).sum,
        blocks.map(_.getTotalByteSize).sum))
    }
    rows.toDF("__p", "n_row_groups", "n_rows",
        "compressed_bytes", "uncompressed_bytes")
      .select(expr(s"substring(__p, ${rootUri.length + 1})")
          .as("file_name"),
        col("n_row_groups"), col("n_rows"),
        col("compressed_bytes"), col("uncompressed_bytes"))
  }

  /** Morton (Z-order) code of two non-negative integer columns: the
    * low `bits` bits of each are interleaved (a in even positions, b in
    * odd), so sorting by the code lays rows on a space-filling curve —
    * rows close in EITHER dimension land close in the file order.
    * Pure shift/mask integer ops, codegen'd; 2·bits ≤ 62. Raw values
    * are interleaved directly (right for roughly-uniform keys like the
    * fixture's); skewed production keys should be rank/percentile
    * mapped first or the curve degenerates to the hot dimension. */
  def zorderCode(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && 2 * bits <= 62,
      s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Z-ordered parquet sink: range-split on the Morton code of
    * (`colA`, `colB`) into `files` files, each sorted by the code.
    * THE multi-dimension data-skipping lever (Delta/Iceberg `OPTIMIZE
    * ZORDER BY`): a single-column sort gives tight min/max footer
    * stats — and therefore row-group/file skipping — on that column
    * only; the Z-curve gives BOTH columns simultaneously-bounded
    * ranges per file, so a range predicate on EITHER dimension prunes
    * most files at planning time from stats alone. Verify with
    * [[parquetStatsAudit]] (q164): per-file min/max envelopes of both
    * dimensions, read back from the same footers the skipping uses.
    *
    * Both dimensions are min/max-scaled into the common `bits`-bit
    * space before interleaving — raw interleave of unequal-width keys
    * degenerates to a sort on the wider key (its high bits own the
    * code's high bits and the narrow dimension never splits; the
    * SourcesSpec pins the non-degeneracy). Min/max scaling is the
    * right normalizer for roughly-uniform keys; heavily skewed
    * production keys want a quantile (percent_rank) map instead. */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
                    colB: String, bits: Int, files: Int): Unit = {
    val b = df.agg(min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    def scaled(c: String, lo: Long, hi: Long): Column =
      (col(c).cast("long") - lit(lo)) * lit((1L << bits) - 1) /
        lit(math.max(1L, hi - lo))
    df.withColumn("__z", zorderCode(
        scaled(colA, b.getLong(0), b.getLong(1)).cast("long"),
        scaled(colB, b.getLong(2), b.getLong(3)).cast("long"), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Parquet column-STATISTICS audit — per file and requested leaf
    * column: min/max over the footer's row-group statistics, the very
    * values scan planners prune with. Metadata-only and distributed
    * exactly like [[parquetLayoutAudit]]; DuckDB's `parquet_metadata()`
    * exposes the same stats, making the audit oracle-checkable. Output:
    * (file_name root-relative, col_name, min_val, max_val) for integer
    * columns. The audit quantifies a layout choice: after
    * [[writeZOrdered]], BOTH dimensions' per-file envelopes are narrow
    * (tiles); after a plain sort, only the sort column's are. */
  def parquetStatsAudit(spark: SparkSession, dirPath: String,
                        cols: Seq[String]): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val wanted = cols.toSet
    val (rows, rootUri) = footerScan(spark, dirPath) { (p, footer) =>
      footer.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(c => wanted.contains(c.getPath.toDotString))
        .map(c => (p, c.getPath.toDotString,
          c.getStatistics.genericGetMin.asInstanceOf[Number].longValue,
          c.getStatistics.genericGetMax.asInstanceOf[Number].longValue))
        .toSeq
    }
    rows.toDF("__p", "col_name", "mn", "mx")
      .groupBy(col("__p"), col("col_name"))
      .agg(min(col("mn")).as("min_val"), max(col("mx")).as("max_val"))
      .select(expr(s"substring(__p, ${rootUri.length + 1})")
          .as("file_name"),
        col("col_name"), col("min_val"), col("max_val"))
  }

  /** Range-sorted parquet sink: `repartitionByRange` on `sortCol` into
    * `files` files, each sorted within — the single-dimension
    * data-skipping layout (the one-column special case of
    * [[writeZOrdered]], and the stronger one WHEN queries filter on
    * exactly one key: ranges are disjoint, so a point/range predicate
    * touches the minimal file set, where a Z-curve trades some
    * single-column tightness for two-column coverage). Boundaries come
    * from Spark's reservoir-sampled range partitioner — at 100 TB
    * that's one lightweight sampling pass, never a full sort shuffle
    * of anything but the data being written anyway. Verify the claim
    * with [[rangeLayoutAudit]]: consecutive files' [min, max]
    * envelopes must not overlap. */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String,
                       files: Int): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Disjointness audit of a range-sorted layout — per file (in
    * ascending min order) the footer min/max envelope of `colName` and
    * whether it overlaps its predecessor's. `n_overlaps` must be 0
    * after [[writeRangeSorted]]; a nonzero count quantifies how much a
    * layout has decayed (e.g. after appends) and feeds the
    * [[compactionPlan]] decision. Footer-only and distributed like
    * [[parquetStatsAudit]] (which supplies the envelopes); the lag
    * window is over FILE COUNT rows — the audited-global-window class.
    * Returns (file_name, min_val, max_val, overlaps_prev). */
  def rangeLayoutAudit(spark: SparkSession, dirPath: String,
                       colName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("min_val"), col("file_name"))
    parquetStatsAudit(spark, dirPath, Seq(colName))
      .filter(col("col_name") === colName)
      .withColumn("__pm", lag(col("max_val"), 1).over(w))
      .select(col("file_name"), col("min_val"), col("max_val"),
        coalesce(col("min_val") <= col("__pm"), lit(false))
          .as("overlaps_prev"))
  }

  /** Data-skipping estimate from a layout-audit frame — the number the
    * layout work ([[writeRangeSorted]], [[writeZOrdered]]) exists to
    * move: for a band predicate spanning the given fraction of the
    * key's global range, how many files would a stats-pruning scan
    * planner actually touch? The band sits at
    * [gmin + span·loNum div loDen, gmin + span·hiNum div hiDen] —
    * pure integer arithmetic from the audit's own envelopes, so the
    * report is deterministic and cross-engine. A file is touched iff
    * its [min, max] envelope intersects the band — exactly the
    * min/max test scan planners run against footer stats.
    *
    * Shape: the audit frame is file-count-sized; two aggs over it.
    * Returns ONE row: (n_files, band_lo, band_hi, n_touched,
    * n_skipped, skip_ratio). */
  def skipEstimate(audit: DataFrame, loNum: Long, hiNum: Long,
                   den: Long): DataFrame = {
    require(den >= 1 && loNum >= 0 && hiNum >= loNum && hiNum <= den,
      s"need 0 <= $loNum <= $hiNum <= $den")
    val g = audit.agg(min(col("min_val")).as("__gmin"),
      max(col("max_val")).as("__gmax"))
    val lo = col("__gmin") +
      expr(s"((__gmax - __gmin) * $loNum) div $den")
    val hi = col("__gmin") +
      expr(s"((__gmax - __gmin) * $hiNum) div $den")
    audit.crossJoin(broadcast(g))
      .select(col("file_name"), col("min_val"), col("max_val"),
        lo.as("band_lo"), hi.as("band_hi"))
      .withColumn("__touched",
        (col("min_val") <= col("band_hi") &&
          col("max_val") >= col("band_lo")).cast("long"))
      .groupBy(col("band_lo"), col("band_hi"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("__touched")).as("n_touched"))
      .select(col("n_files"), col("band_lo"), col("band_hi"),
        col("n_touched"),
        (col("n_files") - col("n_touched")).as("n_skipped"),
        Portable.intRatio9(col("n_files") - col("n_touched"),
          col("n_files")).as("skip_ratio"))
  }

  /** Compaction plan from a [[parquetLayoutAudit]] frame — the FIX for
    * the small-files pathology the audit diagnoses: files are laid out
    * in deterministic (name) order along their cumulative compressed
    * byte offsets and cut into groups of ≈ `targetBytes` (group =
    * byte-offset ÷ target — the contiguous-range sharding a
    * distributed OPTIMIZE job hands its workers; every group lands
    * within one file of the target, and each group is one rewrite
    * task's input set). Output: (file_name, compressed_bytes, grp,
    * grp_files, grp_bytes).
    *
    * The cumulative window is unpartitioned BY DESIGN and bounded by
    * the audit's own cardinality — file COUNT, not data size (the
    * same audited-global-window class as the vocab top-K): a 100k-file
    * table is 100k metadata rows. The plan is pure metadata; executing
    * it is `spark.read.parquet(group files).coalesce(1).write`. */
  def compactionPlan(audit: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    import org.apache.spark.sql.expressions.Window
    val cum = audit.select(col("file_name"), col("compressed_bytes"))
      .withColumn("__off",
        coalesce(sum(col("compressed_bytes")).over(
          Window.orderBy(col("file_name"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("grp", floor(col("__off") / lit(targetBytes)).cast("long"))
    val totals = cum.groupBy(col("grp"))
      .agg(count(lit(1)).as("grp_files"),
        sum(col("compressed_bytes")).as("grp_bytes"))
    cum.join(totals, Seq("grp"))
      .select(col("file_name"), col("compressed_bytes"), col("grp"),
        col("grp_files"), col("grp_bytes"))
  }

  /** Parquet SCHEMA audit — the distinct set of LEAF columns across
    * every footer under `dirPath`: (field_name, physical_type,
    * repetition, converted_type). This is the storage-level form of the
    * reference's `check_column_counts`/`check_dtypes` gates
    * (`data_quality_checks.py`): instead of trusting the reader's
    * inferred `DataFrame.schema`, it reads what the files themselves
    * declare — which is what a 100 TB lake actually has to defend.
    * Because the output is DISTINCT over files, a healthy table yields
    * exactly one row per column; a directory where writers drifted
    * (a column widened int32→int64, a string column written untyped
    * BYTE_ARRAY by one producer) yields DUPLICATE field_name rows — the
    * drift surfaces as extra rows, not as a reader crash three jobs
    * later. Footer-only and distributed exactly like
    * [[parquetLayoutAudit]]; DuckDB's `parquet_schema()` reads the same
    * footers (leaf rows = `num_children IS NULL`), making the audit
    * oracle-checkable bit-for-bit (q160).
    *
    * `field_name` is the leaf's own name (the last path segment), so a
    * nested `list<float>` column reports its `element` leaf — the same
    * node name DuckDB prints. `converted_type` is the parquet
    * ConvertedType annotation (UTF8, TIMESTAMP_MICROS, …; null for
    * plain physical types), matching DuckDB's column of the same name. */
  def parquetSchemaAudit(spark: SparkSession, dirPath: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    footerScan(spark, dirPath) { (_, footer) =>
      footer.getFileMetaData.getSchema.getColumns.asScala
        .map { cd =>
          val pt = cd.getPrimitiveType
          // parquet-mr's enum spells the spec's BYTE_ARRAY as
          // "BINARY"; report the format-spec name (what DuckDB
          // and the Thrift definition both print).
          val phys = pt.getPrimitiveTypeName.name match {
            case "BINARY" => "BYTE_ARRAY"
            case other    => other
          }
          (cd.getPath.last, phys,
            pt.getRepetition.name,
            Option(pt.getOriginalType).map(_.name).orNull)
        }.toSeq
    }._1
      .toDF("field_name", "physical_type", "repetition", "converted_type")
      .distinct()
  }
}
