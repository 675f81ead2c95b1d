package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("interpolated percentile; failures count as +inf") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.percentile(Nil, 50).isNaN)
    assert(Stats.percentile(xs :+ Double.PositiveInfinity, 95).isInfinite)
    assert(Stats.percentile(xs :+ Double.PositiveInfinity, 50) == 6.0)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("checksum is order-independent and sensitive to every field") {
    val a = Sample("click", 1, 100L, 1.5)
    val b = Sample("view", 2, 200L, 2.5)
    val ab = Stats.Checksum.of(Seq(a, b))
    assert(ab == Stats.Checksum.of(Seq(b, a)))
    assert(ab.rows == 2)
    assert(Stats.rowHash(Seq("user_id=1", "__name__=click"), 100L, 1.5) ==
      Stats.rowHash(a.tags, a.tsSec, a.value))
    Seq(a.copy(metric = "error"), a.copy(user = 3), a.copy(tsSec = 101L), a.copy(value = 1.51))
      .foreach(c => assert(Stats.Checksum.of(Seq(c, b)) != ab))
    // a duplicated row is a different multiset
    assert(Stats.Checksum.of(Seq(a, a, b)) != ab)
  }

  test("open-loop due times and lateness") {
    assert(Stats.dueNs(1000L, 0, 1.0) == 1000L)
    assert(Stats.dueNs(1000L, 3, 2.0) == 1000L + 1500000000L)
    assert(Stats.latenessMs(1000000L, 3500000L) == 2.5)
    assert(Stats.latenessMs(5000000L, 3000000L) == 0.0)
  }

  test("the read mix is seeded and stays inside the static span") {
    val t = Inputs.table(0.001)
    val static = t.take(t.size / 2)
    val m1 = Inputs.readMix(static, 7L, 28)
    assert(m1.map(_.kind) == Inputs.readMix(static, 7L, 28).map(_.kind))
    assert(m1 != Inputs.readMix(static, 8L, 28))
    assert(m1.count(_.isInstanceOf[RangeRead]) == 16)
    m1.foreach {
      case r: RemoteRead =>
        assert(r.startMs / 1000 >= static.head.tsSec && r.endMs / 1000 < static.last.tsSec)
      case r: RangeRead =>
        assert(r.startSec >= static.head.tsSec && r.endSec < static.last.tsSec)
    }
  }

  private val endToEnd = Seq("setup_s", "ingest_samples_per_s", "write_p50_ms", "write_p90_ms",
    "read_p50_ms", "read_p90_ms", "query_range_p50_ms", "query_range_p90_ms", "reads_per_s",
    "bytes_per_sample")

  private val perLayer = Seq("codec.write_snappy_ms", "codec.write_decode_ms", "engine.append_ms",
    "engine.append_jobs", "engine.append_tasks", "engine.retention_sweep_ms",
    "serve.write_wait_ms", "engine.table_resolve_ms", "engine.read_plan_ms",
    "engine.read_exec_ms", "engine.read_jobs", "engine.read_tasks",
    "engine.rows_scanned_per_sample_returned", "codec.read_decode_ms", "codec.read_encode_ms",
    "serve.read_wait_ms", "promql.parse_ms", "promql.plan_ms", "promql.exec_ms", "promql.jobs",
    "serve.query_range_wait_ms", "store.files_per_date", "store.files_total", "jvm.gc_wall_ms",
    "spark.task_gc_ms", "load.generator_lag_ms")

  for (w <- Main.Workloads; trace <- Seq(false, true))
    test(s"$w at sf 0.001 (trace=$trace): correct, every metric with a unit") {
      // under the build's target/: Spark's shutdown can re-create its
      // local dir after the run, and /tmp must not grow across runs
      val dir = Files.createTempDirectory(
        Files.createDirectories(java.nio.file.Paths.get("target")), "perfbench-spec")
      try {
        val a = Main.Args(w, 3L, 6, trace, 0.001, dir.resolve("run"), dir.resolve("spans"))
        val r = Main.run(a, System.nanoTime())
        assert(r.errors.isEmpty, r.errors.mkString("\n"))
        assert(r.correct && r.failed == 0 && r.attempted > 0)
        assert(r.metrics.map(_.name) == (if (trace) perLayer else endToEnd))
        assert(r.metrics.forall(m => m.unit.nonEmpty && !m.value.isNaN))
        val js = Json.mapper.readTree(r.json)
        assert(js.get("metrics").size() == r.metrics.size)
        if (trace) assert(Files.list(dir.resolve("spans")).count() == 1)
      } finally Main.rmTree(dir)
    }
}
