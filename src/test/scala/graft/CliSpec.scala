package graft

import graft.codec.Prompb
import graft.codec.Prompb._
import graft.serve.{Cli, CliConfig, Main}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** §3.3 CLI/config surface: flag parsing with the reference's names and
  * defaults (main.go:128-187), sink construction, and a config-driven
  * server bootstrap end-to-end into a live TCP sink.
  */
class CliSpec extends SparkSpec {

  test("defaults match the reference flag defaults") {
    val Right(cfg) = CliConfig.parse(Nil, env = Map.empty): @unchecked
    assert(cfg.graphiteTransport == "tcp")
    assert(cfg.influxdbRetentionPolicy == "autogen")
    assert(cfg.influxdbDatabase == "prometheus")
    assert(cfg.clickhouseDatabase == "prometheus")
    assert(cfg.clickhouseTable == "metrics")
    assert(cfg.sendTimeoutMs == 30000)
    assert(cfg.listenAddress == ":9201")
    assert(cfg.telemetryPath == "/metrics")
    assert(cfg.influxdbPassword == "")
    assert(Cli.buildSinks(cfg).isEmpty) // no backend configured → none built
  }

  test("both --k=v and --k v forms parse; env password is read") {
    val Right(cfg) = CliConfig.parse(
      Seq("--graphite-address=localhost:2003", "--graphite-prefix", "px.",
        "--send-timeout", "5s", "--influxdb-url=http://db:8086",
        "--influxdb.username=prom", "--web.listen-address=:0"),
      env = Map("INFLUXDB_PW" -> "hunter2")): @unchecked
    assert(cfg.graphiteAddress == "localhost:2003")
    assert(cfg.graphitePrefix == "px.")
    assert(cfg.sendTimeoutMs == 5000)
    assert(cfg.influxdbUsername == "prom")
    assert(cfg.influxdbPassword == "hunter2")
    assert(cfg.listenPort == 0)
    assert(Cli.buildSinks(cfg).map(_._1) == Seq("graphite", "influxdb"))
  }

  test("unknown flags, bad durations and bad transports are errors") {
    assert(CliConfig.parse(Seq("--no-such-flag=1"), Map.empty).isLeft)
    assert(CliConfig.parse(Seq("stray"), Map.empty).isLeft)
    assert(CliConfig.parse(Seq("--send-timeout=fast"), Map.empty).isLeft)
    assert(CliConfig.parse(
      Seq("--graphite-address=h:1", "--graphite-transport=unix"), Map.empty).isLeft)
    // both reference transports parse (graphite/client.go:84, main.go:149-151)
    assert(CliConfig.parse(
      Seq("--graphite-address=h:1", "--graphite-transport=udp"), Map.empty)
      .exists(_.graphiteTransport == "udp"))
    assert(CliConfig.parse(Seq("--graphite-address=nohostport"), Map.empty).isLeft)
    val Left(usage) = CliConfig.parse(Seq("--help"), Map.empty): @unchecked
    assert(usage.startsWith("usage:"))
  }

  test("downsampled-tier flags: sec=path pairs parse; non-day-divisor " +
       "windows and malformed pairs are errors") {
    val Right(cfg) = CliConfig.parse(Seq(
      "--read.downsampled-tiers=300=/t/5m,3600=/t/1h",
      "--read.auto-target-points=500"), Map.empty): @unchecked
    assert(cfg.readTiers == Seq(300L -> "/t/5m", 3600L -> "/t/1h"))
    assert(cfg.readAutoTargetPoints == 500L)
    assert(CliConfig.parse(
      Seq("--read.downsampled-tiers=7000=/t/x"), Map.empty).isLeft) // not a day divisor
    assert(CliConfig.parse(
      Seq("--read.downsampled-tiers=300"), Map.empty).isLeft)
    assert(CliConfig.parse(
      Seq("--read.auto-target-points=0"), Map.empty).isLeft)
  }

  test("clickhouse option surface composes the reference DSN exactly") {
    val ca = java.nio.file.Files.createTempFile("graft_ca", ".pem")
    val Right(cfg) = CliConfig.parse(Seq(
      "--clickhouse.url=ch.example:9000",
      "--clickhouse.username=writer",
      "--clickhouse.read-timeout=90s",
      "--clickhouse.write-timeout=500ms",
      "--clickhouse.althosts=a:9000,b:9000",
      s"--clickhouse.ca-file-path=$ca"),
      Map("CLICKHOUSE_PW" -> "s3cret")): @unchecked
    // url.Values.Encode() emits options sorted by key; Go duration form;
    // the CA path flips secure + the fixed tls_config key (main.go:246-270)
    assert(cfg.clickhouseDsn.contains(
      "tcp://ch.example:9000?" +
        "alt_hosts=a%3A9000%2Cb%3A9000&database=prometheus&password=s3cret&" +
        "read_timeout=1m30s&secure=true&tls_config=clickhouse_tls_config_key&" +
        "username=writer&write_timeout=500ms"))
    // no URL → no DSN (reference builds no client, main.go:239)
    assert(CliConfig.parse(Nil, Map.empty).exists(_.clickhouseDsn.isEmpty))
    // defaults carry into a URL-only DSN
    assert(CliConfig.parse(Seq("--clickhouse.url=h:9000"), Map.empty)
      .exists(_.clickhouseDsn.contains(
        "tcp://h:9000?alt_hosts=&database=prometheus&password=&" +
          "read_timeout=10s&username=&write_timeout=10s")))
    // unreadable CA file is a parse-time error (reference exits 1)
    assert(CliConfig.parse(
      Seq("--clickhouse.ca-file-path=/nope/ca.pem"), Map.empty).isLeft)
  }

  test("go duration rendering matches time.Duration.String()") {
    assert(CliConfig.goDuration(0) == "0s")
    assert(CliConfig.goDuration(500) == "500ms")
    assert(CliConfig.goDuration(10000) == "10s")
    assert(CliConfig.goDuration(10500) == "10.5s")
    assert(CliConfig.goDuration(10050) == "10.05s")
    assert(CliConfig.goDuration(90000) == "1m30s")
    assert(CliConfig.goDuration(3600000) == "1h0m0s")
    assert(CliConfig.goDuration(3661000) == "1h1m1s")
  }

  test("config-driven bootstrap: write lands in the table AND the graphite sink") {
    // in-JVM graphite backend
    val tcp = new java.net.ServerSocket(0)
    val received = new ConcurrentLinkedQueue[String]()
    val t = new Thread(() =>
      try while (true) {
        val sock = tcp.accept()
        received.add(new String(sock.getInputStream.readAllBytes(), UTF_8))
        sock.close()
      } catch { case _: java.net.SocketException => () })
    t.setDaemon(true); t.start()

    val base = Files.createTempDirectory("graft_cli").toString
    val Right(cfg) = CliConfig.parse(Seq(
      s"--graphite-address=127.0.0.1:${tcp.getLocalPort}",
      "--graphite-prefix=px.",
      "--clickhouse.database=graft_cli_db",
      "--clickhouse.table=m",
      s"--table-path=$base/metrics",
      "--web.listen-address=:0"), Map.empty): @unchecked
    val server = Cli.buildServer(spark, cfg).start()
    try {
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "cpu"), PLabel("job", "demo")),
        Seq(PSample(1.5, 1000L), PSample(2.5, 2000L)))))
      val conn = java.net.URI.create(s"http://localhost:${server.boundPort}/write")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))
      assert(conn.getResponseCode == 200)
      conn.disconnect()

      // stored through the catalog table the DDL bootstrap created
      // (append writes new date partitions by path; recover them into the
      // catalog exactly like the s5 entry does)
      spark.sql(s"MSCK REPAIR TABLE ${cfg.tableName}")
      assert(spark.table(cfg.tableName).count() == 2)
      // and shipped over TCP with the configured prefix (one connection
      // per input partition — drain them all)
      import scala.jdk.CollectionConverters._
      val eventually = (1 to 50).exists { _ =>
        if (received.asScala.map(_.linesIterator.size).sum >= 2) true
        else { Thread.sleep(100); false }
      }
      assert(eventually, "graphite sink never received both lines")
      val lines = received.asScala.flatMap(_.linesIterator).toSeq
      assert(lines.size == 2)
      assert(lines.forall(_.startsWith("px.cpu.job.demo ")))
    } finally {
      server.stop()
      tcp.close()
      spark.sql("DROP TABLE IF EXISTS graft_cli_db.m")
      spark.sql("DROP DATABASE IF EXISTS graft_cli_db")
    }
  }

  test("rules file: the promtool groups layout parses into RuleGroups; " +
       "junk fails loudly with its line number") {
    import graft.promql.Rules
    val text =
      """# alerting for the demo fleet
        |groups:
        |  - name: demo
        |    interval: 30s
        |    rules:
        |      - record: job:req:sum
        |        expr: sum by (job) (req)
        |      - alert: Hot
        |        expr: "req > 5"
        |        for: 1m
        |        labels:
        |          severity: page
        |          team: 'core'
        |  - name: second
        |    rules:
        |      - alert: Cold
        |        expr: req < 1
        |        for: 2m
        |""".stripMargin
    val groups = Rules.parseRuleFile(text)
    assert(groups == Seq(
      Rules.RuleGroup("demo", 30L,
        Seq(Rules.RecordingRule("job:req:sum", "sum by (job) (req)")),
        Seq(Rules.AlertRule("Hot", "req > 5", 60L,
          Seq("severity" -> "page", "team" -> "core")))),
      Rules.RuleGroup("second", 60L, Nil,
        Seq(Rules.AlertRule("Cold", "req < 1", 120L)))))
    // junk fails with the line number, never a silently dropped rule
    val bad = intercept[IllegalArgumentException] {
      Rules.parseRuleFile("groups:\n  - name: g\n    rules:\n      - oops: x\n")
    }
    assert(bad.getMessage.contains("line 4"))
    // a rule without expr is rejected
    intercept[IllegalArgumentException] {
      Rules.parseRuleFile(
        "groups:\n  - name: g\n    rules:\n      - alert: A\n        for: 1m\n  - name: h\n")
    }
    // --rules.file parses; a missing file is a parse-time error
    assert(CliConfig.parse(Seq("--rules.file", "/no/such/file")).isLeft)
  }

  test("rules file: annotations parse on alerts, are rejected on " +
      "recording rules, and templates expand per instance") {
    import graft.promql.Rules
    val text =
      """groups:
        |  - name: demo
        |    rules:
        |      - alert: Hot
        |        expr: req > 5
        |        for: 1m
        |        labels:
        |          severity: page
        |        annotations:
        |          summary: "{{ $labels.job }} is hot: {{ $value }} rps"
        |          runbook: https://wiki/hot
        |""".stripMargin
    val rule = Rules.parseRuleFile(text).head.alerts.head
    assert(rule.labels == Seq("severity" -> "page"))
    assert(rule.annotations == Seq(
      "summary" -> "{{ $labels.job }} is hot: {{ $value }} rps",
      "runbook" -> "https://wiki/hot"))
    assert(Rules.expandTemplate(rule.annotations.head._2,
      Map("job" -> "api", "severity" -> "page"), 7.25)
      == "api is hot: 7.25 rps")
    // unknown label renders empty; $value trims trailing zeros; the
    // no-space spelling works too
    assert(Rules.expandTemplate("{{$labels.nope}}<{{$value}}>",
      Map(), 3.0) == "<3>")
    // annotations on a recording rule are a config error, as promtool says
    intercept[IllegalArgumentException] {
      Rules.parseRuleFile(
        """groups:
          |  - name: g
          |    rules:
          |      - record: r:x
          |        expr: sum(req)
          |        annotations:
          |          summary: nope
          |""".stripMargin)
    }
  }

  test("admin-api and alertmanager flags: bare boolean, explicit value, " +
      "bad value rejected") {
    assert(!CliConfig.parse(Nil).toOption.get.enableAdminApi)
    assert(CliConfig.parse(Seq("--web.enable-admin-api"))
      .toOption.get.enableAdminApi)
    assert(CliConfig.parse(Seq("--web.enable-admin-api=false"))
      .toOption.exists(!_.enableAdminApi))
    assert(CliConfig.parse(Seq("--web.enable-admin-api=maybe")).isLeft)
    // --web.enable-lifecycle: same kingpin bare-boolean contract (the
    // only form stock Prometheus accepts)
    assert(!CliConfig.parse(Nil).toOption.get.enableLifecycle)
    assert(CliConfig.parse(Seq("--web.enable-lifecycle"))
      .toOption.get.enableLifecycle)
    assert(CliConfig.parse(Seq("--web.enable-lifecycle=false"))
      .toOption.exists(!_.enableLifecycle))
    assert(CliConfig.parse(Seq("--web.enable-lifecycle=maybe")).isLeft)
    assert(CliConfig.parse(Seq("--ct-zero-ingestion"))
      .toOption.get.ctZeroIngestion)
    assert(!CliConfig.parse(Nil).toOption.get.ctZeroIngestion)
    assert(CliConfig.parse(Seq("--exemplars.max-per-series=7"))
      .toOption.get.exemplarsMaxPerSeries == 7)
    assert(CliConfig.parse(Nil).toOption.get.exemplarsMaxPerSeries == 0)
    assert(CliConfig.parse(Seq("--exemplars.max-per-series=-1")).isLeft)
    assert(CliConfig.parse(Seq("--exemplars.max-per-series=lots")).isLeft)
    // the Prometheus --enable-feature spellings map onto the same
    // config; repeatable + comma lists; unknown features are errors
    val ef = CliConfig.parse(Seq(
      "--enable-feature=created-timestamp-zero-ingestion," +
        "otlp-deltatocumulative")).toOption.get
    assert(ef.ctZeroIngestion && ef.otlpConvertDelta)
    val ef2 = CliConfig.parse(Seq(
      "--enable-feature=otlp-deltatocumulative",
      "--enable-feature=created-timestamp-zero-ingestion")).toOption.get
    assert(ef2.ctZeroIngestion && ef2.otlpConvertDelta)
    assert(CliConfig.parse(Seq("--enable-feature=warp-drive")).isLeft)
    assert(CliConfig.parse(Seq("--alertmanager.url=http://am:9093"))
      .toOption.get.alertmanagerUrl == "http://am:9093")
    // retention takes day durations
    assert(CliConfig.parse(Seq("--storage.tsdb.retention.time=15d"))
      .toOption.get.retentionSec == 15L * 86400L)
    assert(CliConfig.parse(
      Seq("--storage.tsdb.retention.time=soon")).isLeft)
    // sub-second retention would floor to 0 = keep-forever — rejected
    assert(CliConfig.parse(
      Seq("--storage.tsdb.retention.time=500ms")).isLeft)
    assert(CliConfig.parse(Seq("--storage.tsdb.retention.time=0s"))
      .toOption.get.retentionSec == 0L)
    // scrape flags
    assert(CliConfig.parse(Seq("--scrape.targets=http://a/m,http://b/m",
      "--scrape.interval=5s")).toOption.exists(c =>
      c.scrapeTargets == Seq("http://a/m", "http://b/m") &&
        c.scrapeIntervalSec == 5L))
    assert(CliConfig.parse(Seq("--scrape.interval=500ms")).isLeft)
  }

  test("check-rules subcommand: valid files report OK, bad YAML or a " +
      "non-parsing expression fails") {
    import java.nio.file.Files
    val good = Files.createTempFile("rules_ok", ".yml")
    Files.writeString(good,
      "groups:\n  - name: g\n    interval: 1m\n    rules:\n" +
        "      - record: job:x:sum\n        expr: sum by (job) (x)\n")
    val badYaml = Files.createTempFile("rules_bad", ".yml")
    Files.writeString(badYaml,
      "groups:\n  - name: g\n    rules:\n      - oops: x\n")
    val badExpr = Files.createTempFile("rules_badexpr", ".yml")
    Files.writeString(badExpr,
      "groups:\n  - name: g\n    interval: 1m\n    rules:\n" +
        "      - record: r\n        expr: sum by (job (x)\n")
    assert(Main.checkRules(Seq(good.toString)) == 0)
    assert(Main.checkRules(Seq(badYaml.toString)) == 1)
    assert(Main.checkRules(Seq(badExpr.toString)) == 1)
    assert(Main.checkRules(Seq(good.toString, badYaml.toString)) == 1)
    assert(Main.checkRules(Nil) == 2)
  }

  test("the served session is the GraftSession engine: every engineConf, " +
       "shuffle width from SPARK_GRAFT_CPUS else the core count (local) " +
       "or 32 (cluster)") {
    // the builder's pending options (JVM-public accessor): reading them
    // pins the definition without starting a second session in this JVM
    def options(env: Map[String, String]): Map[String, String] = {
      val b = Main.session(env)
      b.getClass.getMethod("options").invoke(b)
        .asInstanceOf[scala.collection.Map[String, String]].toMap
    }
    val dflt = options(Map.empty)
    GraftSession.engineConfs.foreach { case (k, v) =>
      assert(dflt.get(k).contains(v), k)
    }
    assert(dflt("spark.master") == "local[*]")
    assert(dflt("spark.sql.shuffle.partitions") ==
      Runtime.getRuntime.availableProcessors().toString)
    val set = options(Map("SPARK_MASTER" -> "local[2]",
      "SPARK_GRAFT_CPUS" -> "8"))
    assert(set("spark.master") == "local[2]")
    assert(set("spark.sql.shuffle.partitions") == "8")
    val cluster = options(Map("SPARK_MASTER" -> "spark://head:7077"))
    assert(cluster("spark.master") == "spark://head:7077")
    assert(cluster("spark.sql.shuffle.partitions") == "32")
    assert(options(Map("SPARK_MASTER" -> "spark://head:7077",
      "SPARK_GRAFT_CPUS" -> "64"))("spark.sql.shuffle.partitions") == "64")
  }
}
