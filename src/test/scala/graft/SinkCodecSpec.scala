package graft

import graft.codec.{GraphiteCodec, OpenTsdbCodec}
import graft.sinks.{FanOut, Formatters}
import org.apache.spark.sql.functions._

/** Golden tests for the sink codecs, ported 1:1 from the reference's own
  * test vectors (graphite/client_test.go:30-57,
  * opentsdb/tagvalue_test.go:22-64, opentsdb/client_test.go:33-75,
  * influxdb/client_test.go:70-72), plus fan-out isolation.
  */
class SinkCodecSpec extends SparkSpec {
  import spark.implicits._

  test("E7 golden: escape keeps, backslash-escapes, percent-encodes") {
    assert(GraphiteCodec.escape("abzABZ019(){},'\"\\") ==
      "abzABZ019\\(\\)\\{\\}\\,\\'\\\"\\\\")
    assert(GraphiteCodec.escape("é/|_;:%.") == "%C3%A9%2F|_;:%25%2E")
    assert(GraphiteCodec.escape("foo-bar-42") == "foo-bar-42")
    assert(GraphiteCodec.escape("foo_bar%42") == "foo_bar%2542")
    assert(GraphiteCodec.escape("http://example.org:8080") ==
      "http:%2F%2Fexample%2Eorg:8080")
    assert(GraphiteCodec.escape("日") == "%E6%97%A5")
  }

  test("E8 golden: full graphite path with sorted labels and UTF-8") {
    val metric = Map(
      "__name__" -> "test:metric",
      "testlabel" -> "test:value",
      "many_chars" -> "abc!ABC:012-3!45ö67~89./(){},=.\"\\")
    assert(GraphiteCodec.pathFromMetric(metric, "prefix.") ==
      "prefix.test:metric" +
        ".many_chars.abc!ABC:012-3!45%C3%B667~89%2E%2F\\(\\)\\{\\}\\,%3D%2E\\\"\\\\" +
        ".testlabel.test:value")
  }

  test("E9/E10 golden: tagvalue marshal vectors and inverse") {
    val vectors = Seq(
      "foo-bar-42" -> "foo-bar-42",
      "foo_bar_42" -> "foo__bar__42",
      "http://example.org:8080" -> "http_.//example.org_.8080",
      "Björn's email: bjoern@soundcloud.com" ->
        "Bj_C3_B6rn_27s_20email_._20bjoern_40soundcloud.com",
      "日" -> "_E6_97_A5")
    vectors.foreach { case (raw, escaped) =>
      assert(OpenTsdbCodec.marshal(raw) == escaped, s"marshal($raw)")
      assert(OpenTsdbCodec.unmarshal(escaped) == raw, s"unmarshal($escaped)")
    }
  }

  test("E9/E10 property: round-trip on printable + unicode strings") {
    val rnd = new scala.util.Random(11)
    val pool = ('!' to '~').mkString + "äöü日本語 :_"
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(20))(pool(rnd.nextInt(pool.length))).mkString
      assert(OpenTsdbCodec.unmarshal(OpenTsdbCodec.marshal(s)) == s, s"rt($s)")
    }
    intercept[IllegalArgumentException](OpenTsdbCodec.unmarshal("_z"))
  }

  // the canonical shared fixture (reference: influxdb/client_test.go:30-68)
  private def fixtureFlat = Seq(
    ("testmetric", Map("__name__" -> "testmetric", "test_label" -> "test_label_value1"), 1.23, 123456789123L),
    ("testmetric", Map("__name__" -> "testmetric", "test_label" -> "test_label_value2"), 5.1234, 123456789123L)
  ).toDF("name", "labels", "value", "timestampMs")

  test("S6 golden: influx line protocol body matches the reference test") {
    val lines = Formatters.influxLines(fixtureFlat).orderBy("line")
      .collect().map(_.getString(0))
    assert(lines.toSeq == Seq(
      "testmetric,test_label=test_label_value1 value=1.23 123456789123",
      "testmetric,test_label=test_label_value2 value=5.1234 123456789123"))
  }

  test("S6: influx escaping of comma/space/equals in tags and measurement") {
    val df = Seq(("my metric", Map("__name__" -> "my metric", "k v" -> "a=b,c"), 1.0, 5L))
      .toDF("name", "labels", "value", "timestampMs")
    val line = Formatters.influxLines(df).head.getString(0)
    assert(line == "my\\ metric,k\\ v=a\\=b\\,c value=1.0 5")
  }

  test("S7 golden: opentsdb JSON matches the reference marshal") {
    val df = Seq(("test:metric",
      Map("__name__" -> "test:metric",
        "testlabel" -> "test:value",
        "many_chars" -> "abc!ABC:012-3!45ö67~89./"),
      3.1415, 4711000L)).toDF("name", "labels", "value", "timestampMs")
    val json = Formatters.opentsdbJson(df).head.getString(0)
    assert(json == """{"metric":"test_.metric","timestamp":4711,"value":3.1415,""" +
      """"tags":{"many_chars":"abc_21ABC_.012-3_2145_C3_B667_7E89./","testlabel":"test_.value"}}""")
  }

  test("S8 golden: graphite plaintext line with %f rendering") {
    val lines = Formatters.graphiteLines(fixtureFlat, "prefix.")
      .orderBy("line").collect().map(_.getString(0))
    assert(lines.head ==
      "prefix.testmetric.test_label.test_label_value1 1.230000 123456789.123000\n")
  }

  test("S3: fan-out isolates a poisoned sink and counts its failure") {
    val batch = fixtureFlat
    var okWrites = 0
    val outcomes = FanOut.fanOut(batch, Seq(
      "good" -> { df => okWrites += 1; df.count() },
      "boom" -> { _ => throw new RuntimeException("sink down") },
      "alsogood" -> { df => df.count() }))
    val byName = outcomes.map(o => o.sink -> o).toMap
    assert(byName("good").sent == 2 && byName("good").failed == 0)
    assert(byName("alsogood").sent == 2)
    assert(byName("boom").sent == 0 && byName("boom").failed == 2)
    assert(byName("boom").error.exists(_.contains("sink down")))
    assert(okWrites == 1)
  }

  test("S3: when the batch itself fails, its count runs once for all " +
       "failing sinks and reports -1") {
    val boom = udf { (x: Long) =>
      FanOutCountProbe.calls.incrementAndGet()
      if (x >= 0) throw new RuntimeException("lineage down")
      true
    }.asNondeterministic()
    FanOutCountProbe.calls.set(0)
    val batch = spark.range(1).toDF().filter(boom(col("id")))
    val outcomes = FanOut.fanOut(batch,
      Seq("a", "b", "c").map(n => n -> ((_: org.apache.spark.sql.DataFrame) =>
        throw new RuntimeException(s"$n down"))))
    assert(outcomes.map(_.failed) == Seq(-1L, -1L, -1L))
    assert(FanOutCountProbe.calls.get == 1,
      "a throwing count must not be retried per failing sink")
  }
}

/** Counts evaluations of the failing batch (local mode: tasks share the
  * driver JVM). */
object FanOutCountProbe {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
