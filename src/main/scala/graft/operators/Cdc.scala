package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import graft.sources.CdcSchemas

/** The CDC operator core (SURVEY.md §2.2 P1–P4, §2.5 W1–W2, §2.1 S5–S9) as
  * pure `DataFrame => DataFrame` transformations — the Spark-native
  * re-expression of what the reference configures declaratively in its
  * Debezium SMT chain (reference airflow/dags/cdc_pipeline_dag.py:142-151)
  * and its HDFS sink (cdc_pipeline_dag.py:184-209).
  *
  * Everything here is a narrow (shuffle-free) transformation except
  * [[latestState]], which needs exactly one shuffle on the key — the
  * theoretical minimum for log compaction. At 100 TB: events pipeline
  * straight from the scan through unwrap/rewrite/enrich/partition-derive
  * into the partitioned writer; compaction shuffles once on
  * (table_name, id).
  */
object Cdc {

  /** S5: decode schemaless JSON lines against an explicit schema,
    * PERMISSIVE mode — malformed records land in `_corrupt` instead of
    * failing the pipeline (the reference's errors.tolerance=all,
    * cdc_pipeline_dag.py:203-205) and absent fields are null-padded
    * (JsonSerDe semantics, cdc_pipeline_dag.py:384).
    */
  def readJsonEvents(spark: SparkSession, schema: StructType,
      path: String): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType, nullable = true))
    // text + from_json (not spark.read.json): keeps the corrupt column a
    // plain materialized column (json() forbids queries touching only
    // _corrupt_record). The stream path decodes with readStream.json
    // (CdcStream.jsonEventStream); both are PERMISSIVE, and [[unwrap]]
    // drops what either decodes without an op.
    spark.read.text(path)
      .select(from_json(col("value"), withCorrupt, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
      .select("r.*")
  }

  /** S5 (streaming shape): decode a JSON string column against a schema. */
  def decodeJson(raw: Column, schema: StructType): Column =
    from_json(raw, schema, Map("mode" -> "PERMISSIVE"))

  /** P4: drop Kafka tombstones (null-payload records) before decode
    * (drop.tombstones=false keeps them on the topic,
    * cdc_pipeline_dag.py:144,147 — consumers must filter).
    */
  def dropTombstones(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.filter(col(valueCol).isNotNull)

  /** P1+P2: Debezium envelope {before,after,source,op} → flat row: the
    * `after` image for c/u/r, the `before` image for d (delete-rewrite
    * keeps the last row image, cdc_pipeline_dag.py:145), plus metadata
    * columns op/table_name/lsn (add.fields=op,table,lsn,
    * cdc_pipeline_dag.py:146).
    *
    * An envelope without an `op` is dropped: a malformed line decodes
    * PERMISSIVE to all-NULL fields, and kept it would become a NULL-key
    * state row. The reference's errors.tolerance=all sink drops such
    * records (cdc_pipeline_dag.py:203-205); batch decode still counts
    * them in `_corrupt` ([[readJsonEvents]]). The drop explodes one
    * copy of each kept row instead of filtering: Spark pushes a filter
    * on a decoded field below the `from_json` projection, which then
    * parses every line twice.
    */
  def unwrap(envelope: DataFrame): DataFrame = {
    val kept = envelope.withColumn("__keep",
      explode(when(col("op").isNotNull, array(lit(true))))).drop("__keep")
    val img = when(col("op") === "d", col("before")).otherwise(col("after"))
    val rowFields = envelope.schema("after").dataType
      .asInstanceOf[StructType].fieldNames
    val flat = rowFields.map(n => img.getField(n).as(n))
    kept.select(flat.toIndexedSeq ++ Seq(
      col("op"),
      col("source.table").as("table_name"),
      col("source.lsn").as("lsn")): _*)
  }

  /** P3: soft-delete rewrite — a DELETE becomes a normal record carrying
    * `__deleted='true'` (string, matching the wire format in
    * delete.handling.mode=rewrite) instead of disappearing.
    */
  def softDeleteRewrite(df: DataFrame): DataFrame =
    df.withColumn("__deleted",
      when(col("op") === "d", lit("true")).otherwise(lit("false")))

  /** §2.7: union per-table event streams into the unified 22-column event
    * lake by column name with null padding — then assert the result matches
    * the declared schema exactly (guards against silent drift, SURVEY.md §7
    * risk register).
    */
  def unify(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty,
      "unify needs at least one per-table frame (got an empty sequence)")
    val target = CdcSchemas.unified
    val padded = parts.map { df =>
      val have = df.columns.toSet
      val cols = target.fields.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }
    val out = padded.reduce(_.unionByName(_)).to(target)
    require(out.schema.map(f => (f.name, f.dataType)) ==
        target.map(f => (f.name, f.dataType)),
      s"unified schema drift:\n got ${out.schema.treeString}\n" +
        s"want ${target.treeString}")
    out
  }

  /** Persistent catalog registration of the unified event lake — the
    * reference's query surface is a METASTORE-BACKED external table
    * (`CREATE EXTERNAL TABLE cdc_db.cdc_events ... JsonSerDe ...
    * LOCATION ...`, cdc_pipeline_dag.py:360-387) that any beeline
    * session can query with no per-session setup. Spark twin:
    * `CREATE TABLE ... USING JSON LOCATION ...` over the same fixed
    * 22-column schema ([[graft.sources.CdcSchemas.unified]]) — a
    * LOCATION-backed (external: DROP TABLE never deletes the data)
    * table in the shared catalog, so any other session on that catalog
    * queries it without re-registration — `newSession()` on the
    * default in-memory catalog, or a later JVM entirely when the
    * session runs a persistent metastore (`enableHiveSupport()`; the
    * hive+derby jars ship with Spark) — exactly the parity point where
    * session-scoped temp views stop. Read semantics match the
    * reference's JsonSerDe: absent fields are NULL (fixed-on-read,
    * never inference), unknown fields are dropped silently (monitor
    * with [[unknownFieldStats]]). `format="parquet"` is the columnar
    * variant for a compacted lake.
    */
  def createEventsTable(spark: SparkSession, location: String,
      table: String = "cdc_events", format: String = "json"): DataFrame = {
    require(Seq("json", "parquet").contains(format),
      s"unsupported event-lake format '$format' (json | parquet)")
    // guarded create: re-registering an existing name against a DIFFERENT
    // location fails loudly instead of silently serving the old lake
    graft.sources.Tables.ensureLocationTable(spark, table, location,
      s"CREATE TABLE IF NOT EXISTS $table (${CdcSchemas.unified.toDDL}) " +
        s"USING $format LOCATION '$location'")
    spark.table(table)
  }

  /** S9/risk-register: schema-drift detector. An explicit read schema
    * null-pads absent fields and silently DROPS unknown ones — so a source
    * that starts sending a new column (ALTER TABLE upstream) degrades
    * invisibly. This probe parses each raw JSON line's top-level keys and
    * reports fields not in the declared schema, with occurrence counts —
    * run it as a monitoring query beside the main pipeline.
    */
  def unknownFieldStats(raw: DataFrame, schema: StructType,
      valueCol: String = "value"): DataFrame = {
    val declared = schema.fieldNames.toSeq
    raw.filter(col(valueCol).isNotNull)
      .select(explode(json_object_keys(col(valueCol))).as("field"))
      .filter(not(col("field").isin(declared: _*)))
      .groupBy(col("field")).agg(count(lit(1)).as("n"))
      .orderBy(col("field"))
  }

  /** LSN sort key: the reference's lsn is a Postgres `X/Y` hex pair; order
    * events by its numeric value ((hi << 32) | lo), never lexically.
    */
  def lsnOrd(lsn: Column): Column =
    shiftleft(conv(substring_index(lsn, "/", 1), 16, 10).cast("long"), 32) +
      conv(substring_index(lsn, "/", -1), 16, 10).cast("long")

  /** W1 (tombstone-retaining): compact the change log to the winning row
    * per key — INCLUDING soft-deleted winners. This is the form persisted
    * state must take: dropping a delete's tombstone lets any later
    * redelivery of a pre-delete event resurrect the key (the tombstone's
    * order value is what out-ranks stale replays). One shuffle on the key
    * columns; ordering within key by the supplied monotone order columns.
    */
  def compactLog(events: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.map(_.desc): _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hide soft-deleted rows — the read/serve face over a compacted log
    * (no-op when the frame carries no `__deleted` column).
    */
  def dropDeleted(df: DataFrame): DataFrame =
    if (df.columns.contains("__deleted"))
      df.filter(not(coalesce(col("__deleted") === "true", lit(false))))
    else df

  /** W1: latest-state materialization — the SERVING view: compact the
    * change log and hide soft-deleted rows. For state that will be folded
    * again (upsert sinks), persist [[compactLog]] instead and apply
    * [[dropDeleted]] at read time.
    */
  def latestState(events: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame =
    dropDeleted(compactLog(events, keys, order))

  /** W1 (time travel): table state AS OF a given LSN — filter the log to
    * events at-or-before the target, then compact. This is the CDC
    * state-at-time query the reference's soft-delete/unwrap chain exists
    * to make possible; same single shuffle as [[latestState]].
    */
  def stateAt(events: DataFrame, keys: Seq[String], lsnCol: Column,
      asOfLsn: Long): DataFrame =
    latestState(events.filter(lsnOrd(lsnCol) <= asOfLsn), keys,
      Seq(lsnOrd(lsnCol)))

  /** S7: derive the reference sink's time-partition columns
    * `year=/month=/day=/hour=` from the record timestamp
    * (timestamp.extractor=Record, cdc_pipeline_dag.py:193-195).
    */
  def withTimePartitions(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("year", year(ts))
      .withColumn("month", month(ts))
      .withColumn("day", dayofmonth(ts))
      .withColumn("hour", hour(ts))

  /** S6: time-partitioned event-lake writer. The reference appends gzip
    * JSON (cdc_pipeline_dag.py:190,197); the engine's at-rest format of
    * record is columnar parquet (format="parquet") with the same layout —
    * pass format="json", compression="gzip" for wire-compatible output.
    */
  def writeTimePartitioned(df: DataFrame, path: String,
      format: String = "parquet", compression: String = "snappy"): Unit =
    df.write.mode("append")
      .partitionBy("year", "month", "day", "hour")
      .option("compression", compression)
      .format(format)
      .save(path)

  /** Backfill / reprocess: overwrite ONLY the partitions present in `df`
    * (dynamic partition overwrite), leaving all other partitions intact —
    * the idempotent re-run semantics a time-partitioned lake needs. The
    * reference's append-mode sink can only duplicate on replay
    * (cdc_pipeline_dag.py:206-207); this is the repair path.
    */
  def overwriteTimePartitions(df: DataFrame, path: String,
      format: String = "parquet"): Unit =
    // per-writer option, NOT the session conf: mutating the global
    // partitionOverwriteMode races every concurrent writer on the session
    // (a static-mode writer picking up a temporary dynamic setting — or
    // the reverse, which deletes every partition not in the frame)
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month", "day", "hour")
      .format(format)
      .save(path)

  /** Small-files compaction: a streaming sink with frequent triggers
    * (flush.size=10 in the reference, cdc_pipeline_dag.py:191) leaves many
    * tiny files per partition; rewrite each time-partition into
    * `filesPerPartition` files. Idempotent (dynamic overwrite), content
    * preserving — the routine maintenance job of any event lake.
    */
  def compactTimePartitions(spark: SparkSession, path: String,
      filesPerPartition: Int = 1): Unit = {
    // eager checkpoint: the compaction overwrites the very path it
    // reads, so the snapshot must be materialized first (Spark rightly
    // refuses to overwrite a path its plan still reads from). Checkpoint
    // blocks are reclaimed at the next driver GC — an unpersist() here
    // would be a no-op (CacheManager-only; see the DedupOps/kmeans
    // notes), so none is attempted.
    val snapshot = spark.read.parquet(path).localCheckpoint()
    // hash-partitioning on the time columns alone would land each
    // time-partition cell in exactly ONE task (one output file) whatever
    // filesPerPartition says — a stable row-hash salt splits each cell
    // across up to filesPerPartition tasks/files. Shuffle width stays the
    // session default so compaction parallelism is not capped by the
    // per-cell file target.
    val compacted = snapshot.repartition(
      col("year"), col("month"), col("day"), col("hour"),
      pmod(xxhash64(snapshot.columns.toIndexedSeq.map(col): _*),
        lit(filesPerPartition)))
    overwriteTimePartitions(compacted, path)
  }

  /** Count-conservation probe (reference monitor-pipeline.sh:55-58 vs
    * :109): events in == events at rest, per table.
    */
  def countsByTable(df: DataFrame): DataFrame =
    df.groupBy(col("table_name")).agg(count(lit(1)).as("n"))

  /** A4: at-rest file metrics for a (possibly partitioned) lake path —
    * one row per data file with its size and partition subdirectory, the
    * reference monitor's `hdfs dfs -du`/file-count checks
    * (monitor-pipeline.sh:103-112) as a queryable frame. Metadata-only:
    * a recursive filesystem listing (driver-side, like every lake-metrics
    * tool — the NameNode call is O(files), no data is read). Feed it to
    * [[compactTimePartitions]] decisions: small-file counts per partition,
    * bytes per partition, total footprint.
    */
  def fileMetrics(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify the root so its string form matches the listed files'
    // (a relative `path` would otherwise never prefix-strip, and the
    // hidden-segment rule below would judge ANCESTOR directories of the
    // root — e.g. a '_work' checkout dir would hide every file)
    val rootStr = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      val rel =
        if (p.startsWith(rootStr + "/")) p.substring(rootStr.length + 1)
        else p.split('/').last
      // mirror Spark/Hadoop's hidden-path rule INSIDE the root: any
      // segment starting with '_' or '.' (e.g. _temporary/…/part-*.parquet,
      // .crc files) is invisible to a scan and must be invisible here too,
      // or the listing==scan contract breaks on in-flight/failed writes
      val hidden = rel.split('/')
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden) {
        val dir = rel.split('/').dropRight(1).mkString("/")
        files += ((rel, dir, st.getLen))
      }
    }
    import spark.implicits._
    files.toSeq.toDF("file", "partition", "bytes")
  }
}
