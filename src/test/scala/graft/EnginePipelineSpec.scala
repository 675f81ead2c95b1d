package graft

import graft.compile.Matchers._
import graft.engine.{ReadPipeline, Rollup, WritePipeline}
import graft.model.Schema.Sample
import graft.model.{Tables, Tags}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end write→read over the reference's canonical test fixture
  * (reference: influxdb/client_test.go:30-68, identical in every client
  * test — see FIXTURES.md §1).
  */
class EnginePipelineSpec extends SparkSpec {
  import spark.implicits._

  // The shared fixture batch: 2 storable samples + NaN/±Inf singletons.
  private val fixtureTs = 123456789123L
  private def fixture = Seq(
    Sample("testmetric", Map("__name__" -> "testmetric", "test_label" -> "test_label_value1"), 1.23, fixtureTs),
    Sample("testmetric", Map("__name__" -> "testmetric", "test_label" -> "test_label_value2"), 5.1234, fixtureTs),
    Sample("nan_value", Map("__name__" -> "nan_value"), Double.NaN, fixtureTs),
    Sample("pos_inf_value", Map("__name__" -> "pos_inf_value"), Double.PositiveInfinity, fixtureTs),
    Sample("neg_inf_value", Map("__name__" -> "neg_inf_value"), Double.NegativeInfinity, fixtureTs)
  ).toDF()

  test("F1: NaN/Inf samples are dropped at ingest, finite ones kept") {
    val kept = WritePipeline.dropNonFinite(fixture).collect()
    assert(kept.length == 2)
    assert(kept.map(_.getAs[String]("name")).toSet == Set("testmetric"))
  }

  test("write pipeline produces canonical rows: sorted tags, second-truncated ts") {
    val rows = WritePipeline.toMetricRows(WritePipeline.dropNonFinite(fixture))
      .orderBy("tags").collect()
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getAs[scala.collection.Seq[String]]("tags").toSeq ==
      Seq("__name__=testmetric", "test_label=test_label_value1"))
    // 123456789123 ms -> 123456789 s exactly (truncation, not rounding)
    assert(r.getAs[java.sql.Timestamp]("ts").getTime == 123456789000L)
    assert(r.getAs[Double]("val") == 1.23)
  }

  test("storableTimestamp agrees with what append stores at both ends " +
       "of the range; a nanosecond timestamp is out of it") {
    val edge = 9223372036854000L // Long.MaxValue µs, in whole seconds, as ms
    val candidates = Seq(0L, 1700000000000L, edge, edge + 998, edge + 999,
      edge + 1000, 1700000000000000000L, Long.MaxValue)
      .flatMap(ms => Seq(ms, -ms))
    val dir = java.nio.file.Files.createTempDirectory("graft_tsrange")
    candidates.zipWithIndex.foreach { case (ms, i) =>
      val stores = scala.util.Try(WritePipeline.append(
        WritePipeline.toMetricRows(
          Seq(Sample("m", Map("__name__" -> "m"), 1.0, ms)).toDF()),
        s"$dir/t$i", rowsHint = 1L)).isSuccess
      assert(WritePipeline.storableTimestamp(ms) == stores, s"$ms ms")
    }
    assert(WritePipeline.storableTimestamp(edge))
    assert(!WritePipeline.storableTimestamp(edge + 1000))
    assert(!WritePipeline.storableTimestamp(1700000000000000000L))
  }

  test("full read: fixture query returns 2 series with 1 sample each") {
    val metrics = WritePipeline.toMetricRows(WritePipeline.dropNonFinite(fixture))
    val q = PromQuery(fixtureTs - 60000, fixtureTs + 60000,
      Seq(LabelMatcher(EQ, "__name__", "testmetric")))
    val series = ReadPipeline.read(metrics, q).orderBy("tags").collect()
    assert(series.length == 2)
    val s0 = series.head
    assert(s0.getAs[String]("name") == "testmetric")
    val samples = s0.getAs[scala.collection.Seq[Row]]("samples")
    assert(samples.length == 1)
    assert(samples.head.getAs[Long]("t") == 123456780000L) // 10s bucket start
    assert(samples.head.getAs[Double]("value") == 1.23)    // quantile of 1 value
  }

  test("S2: flatten crosses every label set with every sample") {
    val nested = Seq(
      (Seq(("__name__", "m1"), ("job", "j")), Seq((1.0, 1000L), (2.0, 2000L))),
      (Seq(("__name__", "m2")), Seq((3.0, 3000L)))
    ).toDF("labels_raw", "samples_raw")
      .select(array(struct(
        transform(col("labels_raw"),
          x => struct(x.getField("_1").as("name"), x.getField("_2").as("value"))).as("labels"),
        transform(col("samples_raw"),
          x => struct(x.getField("_1").as("value"), x.getField("_2").as("timestamp"))).as("samples")
      )).as("timeseries"))
    val flat = WritePipeline.flatten(nested).orderBy("timestampMs").collect()
    assert(flat.length == 3)
    assert(flat.map(_.getAs[String]("name")).toSeq == Seq("m1", "m1", "m2"))
    assert(flat(0).getAs[Map[String, String]]("labels") == Map("__name__" -> "m1", "job" -> "j"))
  }

  test("A6: merge dedup is first-wins on duplicate timestamps") {
    val r1 = Seq(("a", Seq("__name__=a"), 1000L, 1.0)).toDF("name", "tags", "ts", "value")
    val r2 = Seq(("a", Seq("__name__=a"), 1000L, 99.0),
                 ("a", Seq("__name__=a"), 2000L, 2.0)).toDF("name", "tags", "ts", "value")
    val merged = ReadPipeline.mergeDedup(Seq(r1, r2))
      .orderBy("ts").collect()
    assert(merged.map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value"))).toSeq ==
      Seq((1000L, 1.0), (2000L, 2.0)))
  }

  test("A7: version dedup keeps the newest updated") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val df = Seq(
      ("m", Seq("__name__=m"), t0, 1.0, t0),
      ("m", Seq("__name__=m"), t0, 2.0, t1)
    ).toDF("name", "tags", "ts", "val", "updated")
    val out = Rollup.dedupLatest(df).collect()
    assert(out.length == 1 && out.head.getAs[Double]("val") == 2.0)
  }

  test("A7: rollup tier precision follows age") {
    val now = 1706659200L // 2024-01-31
    val mk = (sec: Long) => new java.sql.Timestamp(sec * 1000)
    val df = Seq(
      ("m", Seq("__name__=m"), mk(now - 100), 1.0, mk(now)),     // <1d -> 10s
      ("m", Seq("__name__=m"), mk(now - 100000), 2.0, mk(now)),  // <2d -> 30s
      ("m", Seq("__name__=m"), mk(now - 300000), 3.0, mk(now))   // old -> 300s
    ).toDF("name", "tags", "ts", "val", "updated")
    val out = Rollup.rollup(df, now).orderBy("bucket_ts").collect()
    assert(out.map(_.getAs[Long]("precision")).toSeq == Seq(300L, 30L, 10L))
  }

  test("A7: compact rewrites the stored table to tiered buckets, atomically named") {
    val table = java.nio.file.Files.createTempDirectory("graft_cmp").toString + "/metrics"
    val now = 1706659200L // 2024-01-31
    val mk = (sec: Long) => new java.sql.Timestamp(sec * 1000)
    val rows = Seq(
      ("m", Seq("__name__=m"), mk(now - 11), 1.0, mk(now)),  // fresh tier, bucket A
      ("m", Seq("__name__=m"), mk(now - 13), 3.0, mk(now)),  // same 10s bucket -> avg 2.0
      ("m", Seq("__name__=m"), mk(now - 300000), 5.0, mk(now)) // old tier 300s
    ).toDF("name", "tags", "ts", "val", "updated")
      .withColumn("date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("date").parquet(table)

    Rollup.compact(spark, table, now)
    val out = spark.read.parquet(table).orderBy("ts").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Double]("val")).toSeq == Seq(5.0, 2.0))
    // canonical schema preserved (date partition restored on read)
    assert(out.head.schema.fieldNames.toSet ==
      Set("date", "name", "tags", "val", "ts", "updated"))
    // no staging directory left behind
    assert(!new java.io.File(table + ".compacting").exists())

    // idempotence: re-compacting with the same `now` is a no-op — each
    // bucket already holds one row, so avg-of-one preserves it
    Rollup.compact(spark, table, now)
    val again = spark.read.parquet(table).orderBy("ts").collect()
    assert(again.map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("val"))).toSeq ==
      out.map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("val"))).toSeq)
  }

  test("A7: incremental compaction rewrites only the named date partitions") {
    val table = java.nio.file.Files.createTempDirectory("graft_inc").toString + "/metrics"
    val now = 1706659200L // 2024-01-31
    val mk = (sec: Long) => new java.sql.Timestamp(sec * 1000)
    val old1 = now - 300000 // 2024-01-27, old tier (300s)
    val old2 = now - 400000 // 2024-01-26, old tier
    val rows = Seq(
      ("m", Seq("__name__=m"), mk(old1 + 10), 1.0, mk(now)),  // same 300s
      ("m", Seq("__name__=m"), mk(old1 + 20), 3.0, mk(now)),  //   bucket -> avg 2.0
      ("m", Seq("__name__=m"), mk(old2 + 10), 7.0, mk(now)),
      ("m", Seq("__name__=m"), mk(old2 + 20), 9.0, mk(now))
    ).toDF("name", "tags", "ts", "val", "updated")
      .withColumn("date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("date").parquet(table)
    val d1 = new java.sql.Date(mk(old1).getTime).toString

    Rollup.compactDates(spark, table, Seq(d1), now)

    val out = spark.read.parquet(table)
    // named partition compacted: 2 rows -> 1 avg row
    val day1 = out.filter(col("date") === d1).collect()
    assert(day1.length == 1 && day1.head.getAs[Double]("val") == 2.0)
    // untouched partition keeps its raw rows
    val day2 = out.filter(col("date") =!= d1).orderBy("ts").collect()
    assert(day2.map(_.getAs[Double]("val")).toSeq == Seq(7.0, 9.0))
  }

  test("E1/E3: tag codec round-trip, empty values dropped as absent labels") {
    val df = Seq(Map("__name__" -> "m", "b" -> "2", "a" -> "1", "empty" -> ""))
      .toDF("labels")
    val tags = df.select(Tags.tagsFromLabels(col("labels")).as("tags"))
    assert(tags.head().getAs[scala.collection.Seq[String]]("tags").toSeq ==
      Seq("__name__=m", "a=1", "b=2", "empty="))
    val back = tags.select(Tags.labelsFromTags(col("tags")).as("labels"))
      .head().getAs[Map[String, String]]("labels")
    assert(back == Map("__name__" -> "m", "a" -> "1", "b" -> "2")) // empty dropped
  }

  test("bucketAgg plan carries no Sort and no full-exchange after the agg") {
    val metrics = WritePipeline.toMetricRows(WritePipeline.dropNonFinite(fixture))
    val q = PromQuery(fixtureTs - 60000, fixtureTs + 60000,
      Seq(LabelMatcher(EQ, "__name__", "testmetric")))
    val plan = ReadPipeline.bucketAgg(metrics, q).queryExecution.executedPlan.toString
    // The reference's trailing ORDER BY t would show up as a Sort + range
    // Exchange here — a full shuffle of every read result, discarded by all
    // downstream consumers. Assert it never sneaks back in.
    assert(!plan.contains("Sort "), s"unexpected Sort in bucketAgg plan:\n$plan")
  }

  test("stored table reads prune date partitions from the time range") {
    val table = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/m"
    val mk = (d: String, s: Long) => java.sql.Timestamp.valueOf(s"$d 00:00:0$s")
    Seq(
      ("m", Seq("__name__=m"), 1.0, mk("2024-01-10", 1), mk("2024-01-10", 1)),
      ("m", Seq("__name__=m"), 2.0, mk("2024-01-20", 1), mk("2024-01-20", 1))
    ).toDF("name", "tags", "val", "ts", "updated")
      .withColumn("date", to_date(col("ts")))
      .write.partitionBy("date").parquet(table)
    // range covering only Jan 20 → the Jan 10 partition must be pruned
    val q = PromQuery(1705708800000L, 1705795200000L, Nil)
    val plan = spark.read.parquet(table)
      .filter(graft.compile.Matchers.timeRange(q))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert(plan.contains("date#"), s"date not in partition filters:\n$plan")
  }

  test("divStep: intended adaptive step vs strict-compat constant") {
    val wide = PromQuery(0L, 8192L * 100 * 1000, Nil)
    assert(divStep(wide) == 100L)
    assert(divStep(wide, strictCompat = true) == 10L) // reference sign bug
    val narrow = PromQuery(0L, 60000L, Nil)
    assert(divStep(narrow) == 10L)
  }

  test("matchers: alternation, empty value, caret quirk") {
    val df = Seq(
      ("m", Seq("__name__=m", "k=a")),
      ("m", Seq("__name__=m", "k=b")),
      ("m", Seq("__name__=m", "k=c"))
    ).toDF("name", "tags")
    def n(m: LabelMatcher, strict: Boolean = false): Long =
      df.filter(compileMatcher(m, strict)).count()
    assert(n(LabelMatcher(EQ, "k", "a|b")) == 2)
    assert(n(LabelMatcher(NEQ, "k", "a|b")) == 1)
    assert(n(LabelMatcher(RE, "k", "^[ab]")) == 2)
    assert(n(LabelMatcher(NRE, "k", "^[ab]")) == 1)
    // no leading caret: intended = same filter; strict = ^k= (matches all)
    assert(n(LabelMatcher(RE, "k", "[ab]")) == 2)
    assert(n(LabelMatcher(RE, "k", "[ab]"), strict = true) == 3)
  }

  test("relabel: keep/drop filter, replace with group expansion and " +
       "label deletion, labeldrop/labelkeep thin the map") {
    import graft.operators.Relabel
    import graft.operators.Relabel._
    val df = Seq(
      Map("__name__" -> "up", "job" -> "api", "instance" -> "h1:9090"),
      Map("__name__" -> "up", "job" -> "db", "instance" -> "h2:9090"),
      Map("__name__" -> "scrape_duration", "job" -> "api")
    ).toDF("labels")
    def tags(out: org.apache.spark.sql.DataFrame): Seq[String] =
      out.select(array_join(graft.model.Tags.tagsFromLabels(col("labels")),
        ",")).collect().map(_.getString(0)).sorted.toSeq
    // keep: full-anchor — 'up' does NOT match 'u'
    assert(Relabel(df, Seq(Rule(Keep, Seq("__name__"), regex = "u"))).count() == 0)
    assert(Relabel(df, Seq(Rule(Keep, Seq("__name__"), regex = "up"))).count() == 2)
    // drop on a joined multi-source key
    assert(Relabel(df, Seq(Rule(Drop, Seq("__name__", "job"),
      regex = "up;api"))).count() == 2)
    // replace: group expansion rewrites the port; no-match rows untouched
    val rep = Relabel(df, Seq(Rule(Replace, Seq("instance"),
      regex = "([^:]+):\\d+", targetLabel = "host", replacement = "$1")))
    assert(tags(rep) == Seq(
      "__name__=scrape_duration,job=api",
      "__name__=up,host=h1,instance=h1:9090,job=api",
      "__name__=up,host=h2,instance=h2:9090,job=db"))
    // replace expanding to "" DELETES the target (Prometheus idiom)
    val del = Relabel(df, Seq(Rule(Replace, Seq("job"), regex = "(?:api)()",
      targetLabel = "job", replacement = "$1")))
    assert(tags(del) == Seq(
      "__name__=scrape_duration",
      "__name__=up,instance=h1:9090",
      "__name__=up,instance=h2:9090,job=db"))
    // labelkeep/labeldrop thin by key
    assert(tags(Relabel(df, Seq(Rule(LabelKeep, regex = "__name__")))) ==
      Seq("__name__=scrape_duration", "__name__=up", "__name__=up"))
    assert(tags(Relabel(df, Seq(Rule(LabelDrop, regex = "instance|job")))) ==
      Seq("__name__=scrape_duration", "__name__=up", "__name__=up"))
  }

  test("chunk store: (date, series) grouping round-trips samples " +
       "bit-exactly, duplicate timestamps included") {
    import graft.engine.ChunkStore
    val rows = Seq(
      ("2024-01-10", "m1", Seq("a=1"), 5.0, 100L),
      ("2024-01-10", "m1", Seq("a=1"), 7.25, 160L),
      ("2024-01-10", "m1", Seq("a=1"), 7.25, 160L), // duplicate ts+val
      ("2024-01-10", "m1", Seq("a=2"), -0.0, 100L), // second series
      ("2024-01-11", "m1", Seq("a=1"), 9.0, 86500L) // second date
    ).toDF("d", "name", "tags", "val", "tsec")
      .select(to_date(col("d")).as("date"), col("name"), col("tags"),
        col("val"), timestamp_seconds(col("tsec")).as("ts"),
        current_timestamp().as("updated"))
    val chunked = ChunkStore.toChunked(rows)
    // one chunk per (date, series)
    assert(chunked.count() == 3)
    val back = ChunkStore.fromChunked(chunked)
      .collect()
      .map(r => (r.getString(0),
        r.getAs[scala.collection.Seq[String]](1).mkString(","),
        r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(x => (x._2, x._3, x._4))
    val want = Seq(
      ("m1", "a=1", 100L, java.lang.Double.doubleToRawLongBits(5.0)),
      ("m1", "a=1", 160L, java.lang.Double.doubleToRawLongBits(7.25)),
      ("m1", "a=1", 160L, java.lang.Double.doubleToRawLongBits(7.25)),
      ("m1", "a=1", 86500L, java.lang.Double.doubleToRawLongBits(9.0)),
      ("m1", "a=2", 100L, java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(back.toSeq == want)
  }

  test("relabel hashmod: deterministic shard assignment that PARTITIONS " +
       "the stream (keep shard-k plus drop shard-k covers everything)") {
    import graft.operators.Relabel
    import graft.operators.Relabel._
    val df = (0 until 100).map(i => Map("__name__" -> s"metric$i"))
      .toDF("labels")
    val sharded = Relabel(df,
      Seq(Rule(HashMod, Seq("__name__"), targetLabel = "shard",
        modulus = 4L)))
    val counts = sharded
      .groupBy(element_at(col("labels"), "shard")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.values.sum == 100)
    assert(counts.keySet == Set("0", "1", "2", "3"))
    // re-application is stable (pure function of the label values)
    val again = Relabel(df, Seq(Rule(HashMod, Seq("__name__"),
        targetLabel = "shard", modulus = 4L)))
      .groupBy(element_at(col("labels"), "shard")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(again == counts)
    val k0 = Relabel(sharded, Seq(Rule(Keep, Seq("shard"), regex = "0")))
      .count()
    val rest = Relabel(sharded, Seq(Rule(Drop, Seq("shard"), regex = "0")))
      .count()
    assert(k0 == counts("0") && k0 + rest == 100)
  }

  test("minmaxDownsample keeps per-cell extremes with original (t, value), " +
       "single-extreme cells emit one row") {
    // bucket-agg shape: t in ms; step 10 s → cells of 10_000 ms
    val b = Seq(
      (Seq("s=1"), "m", 1000L, 5.0),  // cell 0 min
      (Seq("s=1"), "m", 2000L, 9.0),  // cell 0 max
      (Seq("s=1"), "m", 3000L, 7.0),  // cell 0 interior — dropped
      (Seq("s=1"), "m", 12000L, 4.0), // cell 1: lone point = min = max
      (Seq("s=2"), "m", 1000L, 1.0)   // other series untouched by s=1
    ).toDF("tags", "name", "t", "value").withColumn("cnt", lit(1L))
    val out = ReadPipeline.minmaxDownsample(b, 10L)
      .select(col("tags").getItem(0), col("t"), col("value"))
      .orderBy(col("tags").getItem(0), col("t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("s=1", 1000L, 5.0), ("s=1", 2000L, 9.0), ("s=1", 12000L, 4.0),
      ("s=2", 1000L, 1.0)))
  }

  test("downsample: 5-aggregate tier with deterministic first/last; " +
       "reaggregate equals the raw-data query") {
    import java.sql.{Date, Timestamp}
    def row(sec: Long, v: Double) =
      (Date.valueOf("2024-01-01"), "m", Seq("__name__=m"), v,
        new Timestamp(sec * 1000L), new Timestamp(sec * 1000L))
    val m = Seq(row(10L, 2.0), row(20L, 8.0), row(40L, 4.0),
      row(310L, 6.0)).toDF("date", "name", "tags", "val", "ts", "updated")
    val d = Rollup.downsample(m, 300L).orderBy("bucket_ts").collect()
    assert(d.length == 2)
    assert(d(0).getAs[Long]("cnt") == 3L)
    assert(d(0).getAs[Long]("sum_fp") == 14000000L)
    assert(d(0).getAs[Long]("min_fp") == 2000000L)
    assert(d(0).getAs[Long]("max_fp") == 8000000L)
    assert(d(0).getAs[Long]("first_fp") == 2000000L)
    assert(d(0).getAs[Long]("last_fp") == 4000000L)
    val re = Rollup.reaggregate(Rollup.downsample(m, 300L), 600L)
      .collect()
    assert(re.length == 1)
    assert(re(0).getAs[Long]("cnt") == 4L)
    assert(re(0).getAs[Long]("avg_fp") == 5000000L)
    assert(re(0).getAs[Long]("min_fp") == 2000000L)
    assert(re(0).getAs[Long]("max_fp") == 8000000L)
  }

  test("chooseResolution: coarsest tier still giving targetPoints") {
    // 20 h -> raw; 10 d -> 5 m; 100 d -> 1 h
    assert(Rollup.chooseResolution(72000L) == 0L)
    assert(Rollup.chooseResolution(864000L) == 300L)
    assert(Rollup.chooseResolution(8640000L) == 3600L)
    // exactly at the 5 m boundary: 250 * 300 s
    assert(Rollup.chooseResolution(75000L) == 300L)
  }
}
