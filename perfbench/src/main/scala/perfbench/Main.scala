package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.JobProbe
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The end-to-end load benchmark: a live `graft.serve.Server` on a
  * fresh store, driven over HTTP with remote-write and remote-read
  * traffic; see perfbench/README.md. Prints one JSON result line last
  * and exits non-zero when any output is wrong.
  *
  * {{{
  * Main --workload ingest_then_read|mixed --seed N --seconds S --trace 0|1
  *      --run-dir DIR --span-dir DIR
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        sf: Double, runDir: Path, spanDir: Path)

  final case class Metric(name: String, value: Double, unit: String, count: Int = 0)

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric],
                          errors: Seq[String]) {
    def json: String = {
      val ms = metrics.map(m =>
        s""""${m.name}": {"value": ${jsonNumber(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  /** JSON has no infinity or NaN: a percentile that a failed request
    * made infinite prints as the largest double (the run is then marked
    * incorrect anyway). */
  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) Double.MaxValue.toString else v.toString

  val Workloads: Seq[String] = Seq("ingest_then_read", "mixed")

  /** Writers in the ingest window; readers in the read window. The read
    * window gets two thirds of the run because its requests split over
    * two endpoints. */
  val IngestSenders = 4
  val ReadClients = 2
  val IngestShare = 1.0 / 3
  /** Mixed: one open-loop writer at this many POSTs per second and one
    * closed-loop reader; a second reader saturates 4 cores and makes
    * every latency depend on queueing. */
  val MixedPostsPerSec = 1.0
  val MixedReaders = 1
  /** Batches per table pass; the read mix queries the first half. */
  val PassBatches = 50
  val StaticBatches = 25
  /** Warm-up: commits before the first write window, reads (by this many
    * clients) before the read window. */
  val WarmCommits = 4
  val WarmReads = 12
  val WarmClients = 3
  val ReplayWrites = 6
  val ReplayReads = 6

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", 0.1,
      Paths.get(need("run-dir")), Paths.get(need("span-dir")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 2, "--seconds must be at least 2")
    a
  }

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val a = parse(argv)
    val r =
      try run(a, startNs)
      finally rmTree(a.runDir)
    r.errors.take(20).foreach(e => System.err.println(s"[perfbench] MISMATCH $e"))
    r.metrics.foreach(m => System.err.println(
      s"[perfbench] ${m.name} = ${m.value} ${m.unit}" + (if (m.count > 0) s" (n=${m.count})" else "")))
    println(r.json)
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def session(runDir: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder(s"local[$n]", n.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Wall time the JVM spent in stop-the-world collections so far. */
  def gcPauseMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Aggregate CPU tick counters (user … steal) where the OS has them:
    * host steal is the noise a shared machine adds to every timing. */
  def cpuTicks(): Option[Vector[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().take(1).toSeq.headOption
        .map(_.split("\\s+").slice(1, 9).map(_.toLong).toVector).filter(_.size == 8)
      finally src.close()
    } catch { case _: java.io.IOException => None }

  /** A timed window: its requests, bounds and GC both ways. */
  final case class Window(outcomes: Seq[Outcome], t0Ns: Long, endNs: Long,
                          gcWallMs: Long, taskGcMs: Long, lateness: Seq[Double])

  def timed(spark: SparkSession, probe: JobProbe, load: Load, seconds: Double)
           (traffic: (Long, Long) => Seq[Double]): Window = {
    val before = load.outcomes.size
    val gc0 = gcPauseMs()
    val cpu0 = cpuTicks()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val lateness = traffic(t0, end)
    val gc1 = gcPauseMs()
    val wall1 = System.currentTimeMillis()
    for (c0 <- cpu0; c1 <- cpuTicks()) {
      val d = c1.zip(c0).map { case (x, y) => x - y }
      System.err.println(f"[perfbench] window ${seconds}%.0f s: machine CPU busy " +
        f"${100.0 * (d.sum - d(3) - d(4) - d(7)) / d.sum}%.0f%%, stolen by the host " +
        f"${100.0 * d(7) / d.sum}%.0f%%")
    }
    JobProbe.drain(spark.sparkContext)
    Window(load.results.drop(before), t0, end, gc1 - gc0, probe.taskGcMs(wall0, wall1), lateness)
  }

  def run(a: Args, startNs: Long): Result = {
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%7.2f s  $name")
    Files.createDirectories(a.runDir)
    val spark = session(a.runDir)
    phase("session up")
    val probe = new JobProbe
    spark.sparkContext.addSparkListener(probe)
    val table = Inputs.table(a.sf)
    val perBatch = math.max(1, math.min(Inputs.BatchSamples, table.size / PassBatches))
    val pass0 = table.grouped(perBatch).toIndexedSeq
    val static = pass0.take(StaticBatches).flatten
    val passes = a.workload match {
      case "mixed" => 1 + (StaticBatches + a.seconds * MixedPostsPerSec).toInt / pass0.size
      case _ => 2
    }
    val batches = (0 until passes).flatMap(k => pass0.map(b => Inputs.encode(Inputs.shifted(b, k))))
    phase(s"${batches.size} batches encoded")
    val errors = Seq.newBuilder[String]
    def checkAll(os: Seq[Outcome], oracle: Oracle): Unit =
      os.filter(o => o.ok && o.endpoint != "write").foreach(o =>
        oracle.check(o.req.asInstanceOf[ReadReq], o.body).foreach(errors += _))
    def send(load: Load, bs: IndexedSeq[Batch], senders: Int): Seq[Thread] =
      Loops.closed(senders, "preload", new Loops.Cursor(bs), Long.MaxValue)((b, d) => load.write(b, d))
    def newServer(dir: String) =
      new graft.serve.Server(spark, dir, retentionSec = Replay.RetentionSec).start()
    val store = a.runDir.resolve("store").toString
    val server = newServer(store)
    try {
      val load = new Load(server.boundPort)
      var warmOutcomes = Seq.empty[Outcome]
      // set-up: everything outside the timed windows before the last one
      var setupNs = System.nanoTime() - startNs
      def setup(f: => Unit): Unit = {
        val t = System.nanoTime()
        f
        setupNs += System.nanoTime() - t
      }
      // warm-up: the first commits and reads pay class loading, JIT and
      // codegen, which users pay once
      def warmCommits(l: Load, until: Int): Unit = {
        send(l, batches.take(2), 1).foreach(_.join())
        send(l, batches.slice(2, until), IngestSenders).foreach(_.join())
      }
      // warm-up reads over `span`; the commits that go on meanwhile add
      // only later samples than those reads query
      def warmReads(span: IndexedSeq[Sample], writes: IndexedSeq[Batch], senders: Int): Unit = {
        val warm = Inputs.readMix(span, a.seed ^ 0x5eedL, WarmReads)
        (send(load, writes, senders) ++
          Loops.closed(WarmClients, "warm-reader", new Loops.Cursor(warm), Long.MaxValue)(
            (q, d) => load.read(q, d))).foreach(_.join())
        val oracle = new Oracle(span)
        load.results.filter(o => warm.exists(_ eq o.req)).foreach(o =>
          oracle.check(o.req.asInstanceOf[ReadReq], o.body).foreach(errors += _))
      }
      val mix = Inputs.readMix(static, a.seed, 3000)
      val (writeWin, readWin) = a.workload match {
        case "mixed" =>
          // the warm-up commits are the preload of the table's first half;
          // the warm-up reads query its first half meanwhile
          setup {
            warmCommits(load, StaticBatches / 2)
            warmReads(pass0.take(StaticBatches / 2).flatten,
              batches.slice(StaticBatches / 2, StaticBatches), IngestSenders)
          }
          phase("set-up done")
          val c = new Loops.Cursor(batches.drop(StaticBatches))
          val reads = new Loops.Cursor(mix)
          val w = timed(spark, probe, load, a.seconds) { (t0, end) =>
            val (writer, lateness, inflight) =
              Loops.open(MixedPostsPerSec, "writer", c, t0, end)((b, d) => load.write(b, d))
            val readers = Loops.closed(MixedReaders, "reader", reads, end)((q, d) => load.read(q, d))
            (writer +: readers).foreach(_.join())
            inflight.forEach(_.join())
            lateness.asScala.toSeq
          }
          (w, w)
        case _ =>
          // the write path warms up on a throwaway server and store, so
          // the ingest window starts on an empty store
          setup {
            val warmStore = a.runDir.resolve("warm-store")
            val warmServer = newServer(warmStore.toString)
            try {
              val l = new Load(warmServer.boundPort)
              warmCommits(l, WarmCommits)
              warmOutcomes = l.results
            } finally {
              warmServer.stop()
              rmTree(warmStore)
            }
          }
          phase("write warm-up done")
          val c = new Loops.Cursor(batches)
          val ww = timed(spark, probe, load, a.seconds * IngestShare) { (_, end) =>
            Loops.closed(IngestSenders, "sender", c, end)((b, d) => load.write(b, d)).foreach(_.join())
            Nil
          }
          // the read window queries the table's first half: finish it if
          // the ingest window did not get that far
          setup {
            send(load, batches.slice(c.taken, StaticBatches), 1).foreach(_.join())
            warmReads(static, IndexedSeq.empty, 1)
          }
          phase("read warm-up done")
          val reads = new Loops.Cursor(mix)
          val rw = timed(spark, probe, load, a.seconds * (1 - IngestShare)) { (_, end) =>
            Loops.closed(ReadClients, "reader", reads, end)((q, d) => load.read(q, d)).foreach(_.join())
            Nil
          }
          (ww, rw)
      }
      val setupS = setupNs / 1e9
      val oracle = new Oracle(static)
      phase("timed traffic done")
      (writeWin.outcomes ++ (if (readWin eq writeWin) Nil else readWin.outcomes))
        .groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
          System.err.println(f"[perfbench] $k%-12s n=${os.size}%3d ms in send order: " +
            os.sortBy(_.sentNs).map(o => f"${o.latencyMs}%.0f").mkString(" "))
        }
      checkAll(readWin.outcomes, oracle)

      // the stored table must hold exactly the acked samples
      val all = load.results
      val acked = all.filter(o => o.ok && o.endpoint == "write")
        .map(_.req.asInstanceOf[Batch].samples)
      val want = acked.foldLeft(Stats.Checksum.empty)((c, ss) => c ++ Stats.Checksum.of(ss))
      val got = storedChecksum(spark, store)
      if (got != want) errors += s"store holds ${got.rows} rows (checksum ${got.sum}), " +
        s"acked ${want.rows} (checksum ${want.sum})"
      val files = Store.files(Paths.get(store))
      phase("store checked")

      val e2e = endToEnd(writeWin, readWin, setupS, files, got.rows)
      val metrics =
        if (!a.trace) e2e
        else {
          val tracer = new Tracer(spark)
          val layers = perLayer(spark, probe, tracer, oracle, batches, a, store, writeWin, readWin,
            e2e, files, errors)
          Files.createDirectories(a.spanDir)
          val spanFile = a.spanDir.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
          tracer.write(spanFile)
          System.err.println(s"[perfbench] ${tracer.spans.size} spans written to $spanFile")
          layers
        }
      val attempts = all ++ warmOutcomes
      val failed = attempts.count(!_.ok)
      val errs = errors.result()
      Result(errs.isEmpty && failed == 0, attempts.size, failed, metrics, errs)
    } finally {
      server.stop()
      spark.stop()
    }
  }

  def storedChecksum(spark: SparkSession, store: String): Stats.Checksum =
    spark.read.parquet(store).select("tags", "ts", "val").collect()
      .foldLeft(Stats.Checksum.empty) { (c, r) =>
        c + Stats.rowHash(r.getAs[scala.collection.Seq[String]](0).toSeq,
          r.getTimestamp(1).getTime / 1000L, r.getDouble(2))
      }

  /** Latencies of one endpoint in a window, failures as +∞. */
  private def lat(w: Window, endpoint: String): Seq[Double] =
    w.outcomes.filter(_.endpoint == endpoint).map(_.latencyMs)

  /** Completed-ok work per second, over the window up to its last
    * completion inside it. */
  private def perSec(w: Window, os: Seq[Outcome], weight: Outcome => Double): Double = {
    val done = os.filter(o => o.ok && o.endNs <= w.endNs)
    if (done.isEmpty) 0.0
    else done.map(weight).sum / ((done.map(_.endNs).max - w.t0Ns) / 1e9)
  }

  def endToEnd(ww: Window, rw: Window, setupS: Double, files: Store.Layout,
               storedRows: Long): Seq[Metric] = {
    val writes = lat(ww, "write")
    val reads = lat(rw, "read")
    val ranges = lat(rw, "query_range")
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ingest_samples_per_s",
        perSec(ww, ww.outcomes.filter(_.endpoint == "write"), _.samples.toDouble), "samples/s",
        writes.size),
      Metric("write_p50_ms", Stats.percentile(writes, 50), "ms", writes.size),
      Metric("write_p90_ms", Stats.percentile(writes, 90), "ms", writes.size),
      Metric("read_p50_ms", Stats.percentile(reads, 50), "ms", reads.size),
      Metric("read_p90_ms", Stats.percentile(reads, 90), "ms", reads.size),
      Metric("query_range_p50_ms", Stats.percentile(ranges, 50), "ms", ranges.size),
      Metric("query_range_p90_ms", Stats.percentile(ranges, 90), "ms", ranges.size),
      Metric("reads_per_s", perSec(rw, rw.outcomes.filter(_.endpoint != "write"), _ => 1.0), "1/s",
        reads.size + ranges.size),
      Metric("bytes_per_sample", files.bytes.toDouble / math.max(1L, storedRows), "B"))
  }

  def perLayer(spark: SparkSession, probe: JobProbe, tracer: Tracer, oracle: Oracle,
               batches: IndexedSeq[Batch], a: Args, store: String, ww: Window, rw: Window,
               e2e: Seq[Metric], files: Store.Layout,
               errors: scala.collection.mutable.Builder[String, Seq[String]]): Seq[Metric] = {
    val replay = new Replay(spark, tracer, oracle)
    val replayStore = a.runDir.resolve("replay-store").toString
    batches.take(ReplayWrites).zipWithIndex.foreach { case (b, i) =>
      replay.write(b, replayStore, s"write-$i")
    }
    val mix = Inputs.readMix(oracle.samples, a.seed ^ 0x7aceL, ReplayReads)
    val returned = mix.zipWithIndex.map { case (q, i) =>
      val (n, err) = replay.read(q, store, s"${q.kind}-$i")
      err.foreach(errors += _)
      q -> n
    }
    JobProbe.drain(spark.sparkContext)
    val spans = tracer.spans
    def of(name: String): Seq[Span] = spans.filter(_.name == name)
    def med(name: String): Double = Stats.median(of(name).map(_.ms))
    def medCount(name: String, f: ((Long, Long, Long)) => Long): Double =
      Stats.median(of(name).map(s => f(probe.of(s.id.toString)).toDouble))
    /** Per request: the summed self time of the named child spans. */
    def layerSum(request: String, names: Set[String], weights: Map[String, Double]): Seq[Double] =
      spans.filter(_.name == request).map { r =>
        spans.filter(s => s.parent == r.id && names(s.name))
          .map(s => s.ms * weights.getOrElse(s.name, 1.0)).sum
      }
    def e2eValue(n: String) = e2e.find(_.name == n).get.value
    val writeSum = layerSum("write", Set("codec.write_snappy", "codec.write_decode",
      "engine.append", "engine.retention_sweep"), Map.empty)
    // a read re-resolves the table only after a write invalidated it:
    // weight the resolve by the share of reads that followed a write
    val readsN = rw.outcomes.count(_.endpoint != "write")
    val writesInRead = rw.outcomes.count(_.endpoint == "write")
    val missShare = if (readsN == 0) 0.0 else math.min(1.0, math.max(1, writesInRead).toDouble / readsN)
    val resolveW = Map("engine.table_resolve" -> missShare)
    val readSum = layerSum("read", Set("codec.read_decode", "engine.table_resolve",
      "engine.read_plan", "engine.read_exec", "codec.read_encode"), resolveW)
    val rangeSum = layerSum("query_range", Set("engine.table_resolve", "promql.parse",
      "promql.plan", "promql.exec"), resolveW)
    val execSpans = of("engine.read_exec")
    val scanned = execSpans.map(s => probe.of(s.id.toString)._3).sum
    val sampled = returned.collect { case (_: RemoteRead, n) => n }.sum
    val readsLat = rw.outcomes.filter(_.endpoint != "write")
    Seq(
      Metric("codec.write_snappy_ms", med("codec.write_snappy"), "ms"),
      Metric("codec.write_decode_ms", med("codec.write_decode"), "ms"),
      Metric("engine.append_ms", med("engine.append"), "ms"),
      Metric("engine.append_jobs", medCount("engine.append", _._1), "count"),
      Metric("engine.append_tasks", medCount("engine.append", _._2), "count"),
      Metric("engine.retention_sweep_ms", med("engine.retention_sweep"), "ms"),
      Metric("serve.write_wait_ms", e2eValue("write_p50_ms") - Stats.median(writeSum), "ms"),
      Metric("engine.table_resolve_ms", med("engine.table_resolve"), "ms"),
      Metric("engine.read_plan_ms", med("engine.read_plan"), "ms"),
      Metric("engine.read_exec_ms", med("engine.read_exec"), "ms"),
      Metric("engine.read_jobs", medCount("engine.read_exec", _._1), "count"),
      Metric("engine.read_tasks", medCount("engine.read_exec", _._2), "count"),
      Metric("engine.rows_scanned_per_sample_returned",
        scanned.toDouble / math.max(1L, sampled), "ratio"),
      Metric("codec.read_decode_ms", med("codec.read_decode"), "ms"),
      Metric("codec.read_encode_ms", med("codec.read_encode"), "ms"),
      Metric("serve.read_wait_ms", e2eValue("read_p50_ms") - Stats.median(readSum), "ms"),
      Metric("promql.parse_ms", med("promql.parse"), "ms"),
      Metric("promql.plan_ms", med("promql.plan"), "ms"),
      Metric("promql.exec_ms", med("promql.exec"), "ms"),
      Metric("promql.jobs", medCount("promql.exec", _._1), "count"),
      Metric("serve.query_range_wait_ms",
        e2eValue("query_range_p50_ms") - Stats.median(rangeSum), "ms"),
      Metric("store.files_per_date", files.medianPerDate, "count"),
      Metric("store.files_total", files.total.toDouble, "count"),
      Metric("jvm.gc_wall_ms", (ww.gcWallMs + (if (rw eq ww) 0L else rw.gcWallMs)).toDouble, "ms"),
      Metric("spark.task_gc_ms", (ww.taskGcMs + (if (rw eq ww) 0L else rw.taskGcMs)).toDouble, "ms"),
      Metric("load.generator_lag_ms", Stats.percentile(
        if (ww.lateness.nonEmpty) ww.lateness
        else (ww.outcomes ++ (if (rw eq ww) Nil else rw.outcomes))
          .map(o => Stats.latenessMs(o.dueNs, o.sentNs)), 90), "ms"))
  }
}

/** Parquet files of a date-partitioned store. */
object Store {
  final case class Layout(perDate: Map[String, Int], bytes: Long) {
    def total: Int = perDate.values.sum
    def medianPerDate: Double = Stats.median(perDate.values.map(_.toDouble).toSeq)
  }

  def files(root: Path): Layout = {
    val parquet = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    Layout(parquet.groupBy(_.getParent.getFileName.toString).map { case (d, ps) => d -> ps.size },
      parquet.map(Files.size).sum)
  }
}
