package graft.engine

import graft.model.{Schema, Tags}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remote-write ingest pipeline (SURVEY §2.1 S2/S4/S5, §2.2 F1).
  *
  * Reference lifecycle: WriteRequest proto → flatten series×samples →
  * per-writer NaN/Inf drop → batched insert
  * (reference: main.go:286-320,377-394; clickhouse/client.go:120-157).
  */
object WritePipeline {

  /** S2 `protoToSamples`: nested WriteRequest frame → flat samples.
    * Two generators (explode of timeseries, explode of samples) express the
    * reference's label-set × samples cross product (reference:
    * main.go:377-394). Stays in whole-stage codegen — no UDFs.
    *
    * Input schema: Schema.writeRequestSchema. Output: name, labels(map),
    * value, timestampMs.
    */
  def flatten(writeRequests: DataFrame): DataFrame =
    writeRequests
      .select(explode(col("timeseries")).as("series"))
      .select(
        map_from_entries(col("series.labels")).as("labels"),
        explode(col("series.samples")).as("sample"))
      .select(
        Tags.metricName(col("labels")).as("name"),
        col("labels"),
        col("sample.value").as("value"),
        col("sample.timestamp").as("timestampMs"))

  /** F1 NaN/±Inf ingest filter — every reference writer drops (and counts)
    * non-finite samples (reference: clickhouse/client.go:137-141,
    * influxdb/client.go:85-90, graphite/client.go:94-98,
    * opentsdb/client.go:80-84).
    *
    * The ignored-sample count is surfaced through `df.observe` upstream
    * (see Observability) instead of a side-effecting counter.
    */
  def dropNonFinite(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.filter(!isnan(col(valueCol)) &&
      col(valueCol) =!= Double.PositiveInfinity &&
      col(valueCol) =!= Double.NegativeInfinity)

  /** Flat samples → the canonical 6-column metrics shape (§1.2): `date`
    * derived from ts (reference binds ts for both date and ts columns,
    * clickhouse/query.go:16, clickhouse/client.go:143), ts truncated to
    * whole seconds, tags = sorted "k=v" array.
    */
  def toMetricRows(samples: DataFrame): DataFrame = {
    val tsSec = timestamp_seconds((col("timestampMs") / 1000).cast("long"))
    samples.select(
      to_date(tsSec).as("date"),
      col("name"),
      Tags.tagsFromLabels(col("labels")).as("tags"),
      col("value").as("val"),
      tsSec.as("ts"),
      current_timestamp().as("updated"))
  }

  /** Whether [[toMetricRows]] can convert a sample's `timestampMs`:
    * `timestamp_seconds` turns the whole seconds into microseconds with
    * an exact multiply and throws past `Long.MaxValue` µs (about year
    * 294247, i.e. ~9.2e15 ms — a nanosecond timestamp sent in the ms
    * field overflows). Computed the way the column expression does it:
    * double division, then truncation to long.
    */
  def storableTimestamp(timestampMs: Long): Boolean =
    math.abs((timestampMs / 1000.0).toLong) <= Long.MaxValue / 1000000L

  /** S4: append a batch to the metrics table.
    *
    * Scale design: partitioned by `date` (≙ MergeTree partition key) and
    * sorted within partitions by (name, tags, ts) (≙ MergeTree primary key)
    * so parquet row-group min/max stats on `name`/`ts` prune like the
    * sparse index does. One atomic append per micro-batch ≙ one tx per
    * write request (reference: clickhouse/client.go:121-150).
    *
    * The exchange is a RANGE partition over (date, name, tags), NOT a
    * hash on date alone: hashing date funnels each day's entire batch
    * through ONE task (a ~270 GB serial sort per day at 100 TB), where
    * the range split spreads a day across many tasks at name/tags
    * boundaries. Multiple files per date directory is fine for parquet,
    * and min/max skipping is preserved — files then hold DISJOINT
    * (name, tags) ranges, so a name-predicate read still prunes to the
    * one file holding that range.
    *
    * `rowsHint`: batch size when the CALLER already knows it (the HTTP
    * front doors decode the payload driver-side, so the row count is a
    * free fact). The range-exchange width then derives from the DATA
    * (ceil(rows / rowsPerWriteTask), capped at the session shuffle
    * width) instead of the static `spark.sql.shuffle.partitions`: a
    * 50-sample remote-write POST commits through ONE task with no
    * range-bound sampling job (RangePartitioner(1) skips the sample
    * pass entirely), while a bulk batch still fans out — the
    * scale-adaptive partitioning rule of the optimization playbook §2.
    * Default -1 (unknown) keeps the static width; the hint never
    * changes WHAT is written, only how many files carry it.
    */
  /** Data-derived range-exchange width: ceil(rows / rowsPerTask), capped
    * at the session shuffle width — the scale-adaptive partitioning rule
    * (optimization guide §2) shared by [[append]]'s hinted path, the
    * tombstone cleaner's partition rewrite and the compactor. Width 1
    * additionally skips RangePartitioner's bound-sampling job.
    */
  def rangeWidth(spark: SparkSession, rows: Long): Int = {
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val perTask = spark.conf.getOption("spark.graft.append.rowsPerTask")
      .map(_.toLong).getOrElse(262144L)
    math.max(1L, math.min(maxParts.toLong,
      (rows + perTask - 1) / perTask)).toInt
  }

  def append(metricRows: DataFrame, path: String,
             rowsHint: Long = -1L): Unit = {
    val parted =
      if (rowsHint >= 0L)
        metricRows.repartitionByRange(
          rangeWidth(metricRows.sparkSession, rowsHint),
          col("date"), col("name"), col("tags"))
      else metricRows
        .repartitionByRange(col("date"), col("name"), col("tags"))
    parted
      .sortWithinPartitions(col("name"), col("tags"), col("ts"))
      .write.mode("append").partitionBy("date").parquet(path)
  }

  /** S5 DDL bootstrap ≙ CREATE TABLE IF NOT EXISTS
    * (reference: clickhouse/client.go:85-117). */
  def ensureTable(spark: SparkSession, name: String, path: String): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name (
         |  name STRING, tags ARRAY<STRING>, val DOUBLE,
         |  ts TIMESTAMP, updated TIMESTAMP, date DATE
         |) USING parquet PARTITIONED BY (date) LOCATION '$path'""".stripMargin)

  /** Full ingest of one decoded WriteRequest batch: flatten → drop
    * non-finite → canonical rows. */
  def ingest(writeRequests: DataFrame): DataFrame =
    toMetricRows(dropNonFinite(flatten(writeRequests)))
}
