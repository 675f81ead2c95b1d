package graft.serve

import graft.engine.WritePipeline
import graft.sinks.{Formatters, Transport}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** §3.3 startup surface: the reference's kingpin flag set re-expressed
  * (reference: main.go:128-187), with the same flag NAMES, defaults and
  * env-password convention. The full ClickHouse option surface (url,
  * username, CLICKHOUSE_PW, ca-file-path, read/write timeouts, althosts)
  * parses, validates, and composes the IDENTICAL DSN the reference builds
  * (main.go:239-276) — the engine's storage is the Spark-managed parquet
  * table (addressed by `--clickhouse.table` + `--table-path`), so the DSN
  * is carried for a deployment that fronts a real ClickHouse, not dialed
  * here.
  *
  * Passwords ride environment variables exactly like the reference
  * (INFLUXDB_PW / CLICKHOUSE_PW, main.go:133-134): secrets never appear
  * in argv.
  */
final case class CliConfig(
    graphiteAddress: String = "",
    graphiteTransport: String = "tcp",
    graphitePrefix: String = "",
    opentsdbUrl: String = "",
    influxdbUrl: String = "",
    influxdbRetentionPolicy: String = "autogen",
    influxdbUsername: String = "",
    influxdbDatabase: String = "prometheus",
    influxdbPassword: String = "",
    clickhouseUrl: String = "",
    clickhouseUsername: String = "",
    clickhousePassword: String = "",
    clickhouseDatabase: String = "prometheus",
    clickhouseTable: String = "metrics",
    clickhouseCaPath: String = "",
    clickhouseReadTimeoutMs: Long = 10000,
    clickhouseWriteTimeoutMs: Long = 10000,
    clickhouseAltHosts: String = "",
    tablePath: String = "spark-warehouse/prometheus/metrics",
    sendTimeoutMs: Long = 30000,
    listenAddress: String = ":9201",
    telemetryPath: String = "/metrics",
    // graft extension (no reference counterpart): series budget for one
    // read response — a match-everything query fails with 413 instead of
    // collecting unbounded series into driver memory. 0 disables.
    readMaxSeries: Int = 500000,
    // graft extension implementing the reference's multi-querier TODO
    // (main.go:344-348): extra parquet reader paths, comma-separated;
    // /read fans out to all readers and merges first-wins, primary first.
    readExtraTables: Seq[String] = Nil,
    // graft extension making the reference's transparent rollup reads
    // (README.md:64-87) explicit: downsampled-tier parquet paths as
    // `sec=path` pairs, comma-separated; long-range /read queries route
    // to the coarsest tier still yielding >= readAutoTargetPoints points.
    readTiers: Seq[(Long, String)] = Nil,
    readAutoTargetPoints: Long = 250L,
    // graft extension: at-rest Gorilla chunk tier path; streamed
    // remote-read with ?source=chunks serves raw samples from it
    // (day-aligned queries forward stored bytes verbatim).
    readChunkTier: String = "",
    // graft extension: the native-histogram chunk tier beside the
    // scalar one — FLOAT_HISTOGRAM chunks served on the same
    // ?source=chunks path (day-aligned zero-copy forwarding).
    readHistChunkTier: String = "",
    // graft extension: a Prometheus-format rule file (the `groups:`
    // layout promtool checks, strict subset); groups load into the
    // in-engine rule evaluator and enumerate on /api/v1/rules.
    rulesFile: String = "",
    // graft extension: Alertmanager base URL — firing alerts POST to
    // <url>/api/v2/alerts on the smallest group interval.
    alertmanagerUrl: String = "",
    // ≙ Prometheus --web.enable-admin-api: delete_series and
    // clean_tombstones answer 403 unless enabled.
    enableAdminApi: Boolean = false,
    // ≙ Prometheus --storage.tsdb.retention.time: date partitions whose
    // every sample is past the horizon drop after each committed batch.
    // 0 = keep forever.
    retentionSec: Long = 0L,
    // graft extension: text-exposition URLs to PULL on an interval
    // (a child adapter's /federate, any /metrics page).
    scrapeTargets: Seq[String] = Nil,
    scrapeIntervalSec: Long = 60L,
    // ≙ the Prometheus OTLP receiver's opt-in delta→cumulative
    // conversion: off by default, delta sums/histograms are skipped.
    otlpConvertDelta: Boolean = false,
    // ≙ the receiver's resource mapping: service.name/instance.id →
    // job/instance, remaining resource attrs → a target_info series
    // (info()'s join input); off = flatten resource attrs into every
    // series.
    otlpTargetInfo: Boolean = false,
    // ≙ Prometheus --web.enable-lifecycle: POST /-/reload re-reads
    // --rules.file (403 otherwise; a failed parse keeps the old rules).
    enableLifecycle: Boolean = false,
    // ≙ Prometheus --enable-feature=created-timestamp-zero-ingestion:
    // a v2 series carrying created_timestamp gets a synthetic zero
    // sample at its creation instant (young-series rate correctness),
    // unless the receiver already knows a sample at or after it.
    ctZeroIngestion: Boolean = false,
    // ≙ Prometheus --storage.exemplars.max-exemplars, applied PER
    // SERIES at rest: the side table compacts to the newest N
    // exemplars per series once any series doubles its budget.
    // 0 = unbounded.
    exemplarsMaxPerSeries: Int = 0) {

  /** Qualified catalog name, ≙ database.table in the reference DSN. */
  def tableName: String = s"${clickhouseDatabase}.${clickhouseTable}"

  def listenPort: Int = {
    val p = listenAddress.substring(listenAddress.lastIndexOf(':') + 1)
    p.toInt
  }

  /** The exact DSN the reference assembles (main.go:239-270): scheme tcp,
    * host from --clickhouse.url, and url.Values-encoded options — which
    * Go emits SORTED BY KEY, with durations in Go's String() form. When a
    * CA path is configured the reference registers it under a fixed TLS
    * config key and turns `secure` on; the same two options appear here.
    * None when no ClickHouse URL is configured (reference skips the
    * client entirely, main.go:239).
    */
  def clickhouseDsn: Option[String] =
    if (clickhouseUrl.isEmpty) None
    else {
      val base = scala.collection.immutable.TreeMap(
        "database" -> clickhouseDatabase,
        "username" -> clickhouseUsername,
        "password" -> clickhousePassword,
        "read_timeout" -> CliConfig.goDuration(clickhouseReadTimeoutMs),
        "write_timeout" -> CliConfig.goDuration(clickhouseWriteTimeoutMs),
        "alt_hosts" -> clickhouseAltHosts)
      val opts =
        if (clickhouseCaPath.isEmpty) base
        else base + ("tls_config" -> "clickhouse_tls_config_key") + ("secure" -> "true")
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      Some(opts.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
        .mkString(s"tcp://$clickhouseUrl?", "&", ""))
    }
}

object CliConfig {

  private val Usage: String =
    """usage: graft-adapter [<flags>]
      |
      |Spark-native remote storage adapter
      |
      |  --graphite-address=""          host:port of the Graphite server. None, if empty.
      |  --graphite-transport="tcp"     Transport to Graphite ('tcp' or 'udp').
      |  --graphite-prefix=""           Prefix prepended to exported metrics.
      |  --opentsdb-url=""              URL of the OpenTSDB server. None, if empty.
      |  --influxdb-url=""              URL of the InfluxDB server. None, if empty.
      |  --influxdb.retention-policy="autogen"
      |  --influxdb.username=""         Password via env INFLUXDB_PW.
      |  --influxdb.database="prometheus"
      |  --clickhouse.url=""            host:port of the ClickHouse server. None, if empty.
      |  --clickhouse.username=""       Password via env CLICKHOUSE_PW.
      |  --clickhouse.database="prometheus"  Catalog database for the metrics table.
      |  --clickhouse.table="metrics"   Catalog table name.
      |  --clickhouse.ca-file-path=""   CA certificate for TLS. None, if empty.
      |  --clickhouse.read-timeout=10s
      |  --clickhouse.write-timeout=10s
      |  --clickhouse.althosts=""       Comma-separated cluster hosts. None, if empty.
      |  --table-path="spark-warehouse/prometheus/metrics"  Parquet location.
      |  --send-timeout=30s             Timeout when sending samples to remotes.
      |  --web.listen-address=":9201"   Address for web endpoints.
      |  --web.telemetry-path="/metrics"
      |  --read.max-series=500000       Series budget per query in a read request
      |                                 (a k-query request may return up to
      |                                 k x budget series; 0 = unlimited).
      |  --read.extra-tables=""         Comma-separated extra parquet reader
      |                                 paths; /read merges all readers
      |                                 first-wins (primary table wins).
      |  --read.downsampled-tiers=""    Comma-separated <sec>=<path> pairs of
      |                                 downsampled-tier parquet stores (sec a
      |                                 day divisor); long-range reads route to
      |                                 the coarsest adequate tier.
      |  --read.auto-target-points=250  Minimum response points the resolution
      |                                 router keeps when picking a tier.
      |  --read.chunk-tier=""           At-rest Gorilla chunk tier path; a
      |                                 streamed read with ?source=chunks
      |                                 serves raw samples from it (aligned
      |                                 queries forward bytes verbatim).
      |  --read.hist-chunk-tier=""      Native-histogram chunk tier path
      |                                 (FLOAT_HISTOGRAM chunks), served on
      |                                 the same ?source=chunks path.
      |  --alertmanager.url=""          Alertmanager base URL; firing alerts
      |                                 POST to /api/v2/alerts on the smallest
      |                                 rule-group interval.
      |  --web.enable-admin-api         Enable the TSDB admin endpoints
      |                                 (delete_series, clean_tombstones,
      |                                 snapshot); 403 otherwise.
      |  --storage.tsdb.retention.time=0s  Drop date partitions whose every
      |                                 sample is past this horizon (after
      |                                 each committed batch); 0 = forever.
      |  --scrape.targets=""            Comma-separated text-exposition URLs
      |                                 to pull on --scrape.interval (a child
      |                                 /federate, any /metrics page).
      |  --scrape.interval=60s          Pull cadence for --scrape.targets.
      |  --otlp.convert-delta=false     Convert DELTA-temporality OTLP sums/
      |                                 histograms to cumulative at ingest
      |                                 (per-series receiver state, 5 m
      |                                 staleness reset); off = skip them.
      |  --otlp.target-info=false       Map OTLP resource attrs the receiver
      |                                 way: service.name/instance.id →
      |                                 job/instance, the rest → a
      |                                 target_info series (info()'s input);
      |                                 off = flatten into every series.
      |  --web.enable-lifecycle         Enable POST /-/reload (re-reads
      |                                 --rules.file; a failed parse keeps
      |                                 the old rules); 403 otherwise.
      |  --ct-zero-ingestion            Ingest a synthetic zero sample at a
      |                                 v2 series' created_timestamp (young-
      |                                 series rate correctness); off = the
      |                                 field is decoded but unused.
      |  --exemplars.max-per-series=<n> Keep at most n exemplars per series
      |                                 at rest (newest win; the side table
      |                                 compacts once a series doubles its
      |                                 budget). 0 = unbounded.
      |  --enable-feature=<a,b>         Prometheus feature-flag spellings of
      |                                 the above (repeatable, comma lists):
      |                                 created-timestamp-zero-ingestion,
      |                                 otlp-deltatocumulative. Unknown
      |                                 features are errors.
      |
      |subcommands:
      |  check-rules <file>...          Validate rule files (groups layout +
      |                                 every expression parses); exit 0/1.
      |""".stripMargin

  def usage(): String = Usage

  private val DurationRe = "^(\\d+)(ms|s|m|h|d)$".r

  private[serve] def parseDurationMs(s: String): Either[String, Long] = s match {
    case DurationRe(n, "ms") => Right(n.toLong)
    case DurationRe(n, "s") => Right(n.toLong * 1000)
    case DurationRe(n, "m") => Right(n.toLong * 60000)
    case DurationRe(n, "h") => Right(n.toLong * 3600000)
    case DurationRe(n, "d") => Right(n.toLong * 86400000)
    case other => Left(s"invalid duration '$other' (want e.g. 10s, 500ms, 1m, 15d)")
  }

  /** kingpin-style parse: `--flag=value` or `--flag value`; unknown flags
    * are errors (main.go:181-186 exits 2 with usage). `env` is injectable
    * for tests; production uses sys.env.
    */
  def parse(args: Seq[String],
            env: Map[String, String] = sys.env): Either[String, CliConfig] = {
    var cfg = CliConfig(
      influxdbPassword = env.getOrElse("INFLUXDB_PW", ""),
      clickhousePassword = env.getOrElse("CLICKHOUSE_PW", ""))
    var rest = args.toList
    while (rest.nonEmpty) {
      val (flag, value, tail) = rest match {
        case f :: t if f.startsWith("--") && f.contains('=') =>
          val i = f.indexOf('=')
          (f.substring(2, i), Some(f.substring(i + 1)), t)
        case f :: v :: t if f.startsWith("--") && !v.startsWith("--") =>
          (f.substring(2), Some(v), t)
        case f :: t if f.startsWith("--") => (f.substring(2), None, t)
        case f :: _ => return Left(s"unexpected argument '$f'")
        case Nil => return Left("unreachable")
      }
      if (flag == "help" || flag == "h") return Left(Usage)
      value match {
        // boolean flags: the bare form turns them on (kingpin's
        // behavior, and the only form stock Prometheus accepts); an
        // explicit =true/=false also parses
        case None if flag == "web.enable-admin-api" =>
          cfg = cfg.copy(enableAdminApi = true)
        case None if flag == "web.enable-lifecycle" =>
          cfg = cfg.copy(enableLifecycle = true)
        case None if flag == "ct-zero-ingestion" =>
          cfg = cfg.copy(ctZeroIngestion = true)
        case None => return Left(s"flag --$flag needs a value")
        case Some(v) =>
          flag match {
            case "graphite-address" => cfg = cfg.copy(graphiteAddress = v)
            case "graphite-transport" => cfg = cfg.copy(graphiteTransport = v)
            case "graphite-prefix" => cfg = cfg.copy(graphitePrefix = v)
            case "opentsdb-url" => cfg = cfg.copy(opentsdbUrl = v)
            case "influxdb-url" => cfg = cfg.copy(influxdbUrl = v)
            case "influxdb.retention-policy" => cfg = cfg.copy(influxdbRetentionPolicy = v)
            case "influxdb.username" => cfg = cfg.copy(influxdbUsername = v)
            case "influxdb.database" => cfg = cfg.copy(influxdbDatabase = v)
            case "clickhouse.url" => cfg = cfg.copy(clickhouseUrl = v)
            case "clickhouse.username" => cfg = cfg.copy(clickhouseUsername = v)
            case "clickhouse.database" => cfg = cfg.copy(clickhouseDatabase = v)
            case "clickhouse.table" => cfg = cfg.copy(clickhouseTable = v)
            case "clickhouse.ca-file-path" => cfg = cfg.copy(clickhouseCaPath = v)
            case "clickhouse.read-timeout" => parseDurationMs(v) match {
              case Right(ms) => cfg = cfg.copy(clickhouseReadTimeoutMs = ms)
              case Left(e) => return Left(e)
            }
            case "clickhouse.write-timeout" => parseDurationMs(v) match {
              case Right(ms) => cfg = cfg.copy(clickhouseWriteTimeoutMs = ms)
              case Left(e) => return Left(e)
            }
            case "clickhouse.althosts" => cfg = cfg.copy(clickhouseAltHosts = v)
            case "table-path" => cfg = cfg.copy(tablePath = v)
            case "send-timeout" => parseDurationMs(v) match {
              case Right(ms) => cfg = cfg.copy(sendTimeoutMs = ms)
              case Left(e) => return Left(e)
            }
            case "web.listen-address" => cfg = cfg.copy(listenAddress = v)
            case "web.telemetry-path" => cfg = cfg.copy(telemetryPath = v)
            case "read.extra-tables" =>
              cfg = cfg.copy(readExtraTables =
                v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            case "read.max-series" =>
              v.toIntOption match {
                case Some(n) if n >= 0 => cfg = cfg.copy(readMaxSeries = n)
                case _ => return Left(s"--read.max-series needs a non-negative integer, got '$v'")
              }
            case "read.downsampled-tiers" =>
              val parsed = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
                .map { pair =>
                  pair.split("=", 2) match {
                    case Array(sec, path) if sec.toLongOption.exists(w =>
                        w > 0 && 86400L % w == 0) && path.nonEmpty =>
                      Right(sec.toLong -> path)
                    case _ => Left(
                      s"--read.downsampled-tiers entry '$pair' is not " +
                        "<day-divisor-seconds>=<path>")
                  }
                }
              parsed.collectFirst { case Left(e) => e } match {
                case Some(e) => return Left(e)
                case None =>
                  cfg = cfg.copy(readTiers = parsed.collect { case Right(t) => t })
              }
            case "read.chunk-tier" => cfg = cfg.copy(readChunkTier = v)
            case "read.hist-chunk-tier" =>
              cfg = cfg.copy(readHistChunkTier = v)
            case "rules.file" => cfg = cfg.copy(rulesFile = v)
            case "alertmanager.url" => cfg = cfg.copy(alertmanagerUrl = v)
            case "web.enable-admin-api" => v.toBooleanOption match {
              case Some(b) => cfg = cfg.copy(enableAdminApi = b)
              case None => return Left(
                s"--web.enable-admin-api needs true or false, got '$v'")
            }
            case "storage.tsdb.retention.time" =>
              parseDurationMs(v) match {
                // a sub-second value would floor to retentionSec=0,
                // which means "keep forever" — the OPPOSITE of the tiny
                // retention asked for; reject instead of inverting
                case Right(ms) if ms > 0 && ms < 1000 => return Left(
                  s"--storage.tsdb.retention.time must be at least 1s " +
                    s"(or 0 to disable), got '$v'")
                case Right(ms) => cfg = cfg.copy(retentionSec = ms / 1000)
                case Left(e) => return Left(e)
              }
            case "scrape.targets" =>
              cfg = cfg.copy(scrapeTargets =
                v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            case "otlp.convert-delta" => v.toBooleanOption match {
              case Some(b) => cfg = cfg.copy(otlpConvertDelta = b)
              case None => return Left(
                s"--otlp.convert-delta needs true or false, got '$v'")
            }
            case "otlp.target-info" => v.toBooleanOption match {
              case Some(b) => cfg = cfg.copy(otlpTargetInfo = b)
              case None => return Left(
                s"--otlp.target-info needs true or false, got '$v'")
            }
            case "ct-zero-ingestion" => v.toBooleanOption match {
              case Some(b) => cfg = cfg.copy(ctZeroIngestion = b)
              case None => return Left(
                s"--ct-zero-ingestion needs true or false, got '$v'")
            }
            case "exemplars.max-per-series" => v.toIntOption match {
              case Some(n) if n >= 0 =>
                cfg = cfg.copy(exemplarsMaxPerSeries = n)
              case _ => return Left(
                s"--exemplars.max-per-series needs an integer >= 0, got '$v'")
            }
            // ≙ Prometheus --enable-feature=a,b (repeatable): the
            // upstream spellings of features this engine carries as
            // dedicated flags map onto them; an unknown feature is an
            // ERROR here (a silently-ignored feature flag is how
            // production configs rot), listing the supported names.
            case "enable-feature" =>
              for (f <- v.split(",").map(_.trim).filter(_.nonEmpty))
                f match {
                  case "created-timestamp-zero-ingestion" =>
                    cfg = cfg.copy(ctZeroIngestion = true)
                  case "otlp-deltatocumulative" =>
                    cfg = cfg.copy(otlpConvertDelta = true)
                  case other => return Left(
                    s"--enable-feature: unknown feature '$other' " +
                      "(supported: created-timestamp-zero-ingestion, " +
                      "otlp-deltatocumulative)")
                }
            case "web.enable-lifecycle" => v.toBooleanOption match {
              case Some(b) => cfg = cfg.copy(enableLifecycle = b)
              case None => return Left(
                s"--web.enable-lifecycle needs true or false, got '$v'")
            }
            case "scrape.interval" => parseDurationMs(v) match {
              case Right(ms) if ms >= 1000 =>
                cfg = cfg.copy(scrapeIntervalSec = ms / 1000)
              case Right(_) => return Left(
                "--scrape.interval must be at least 1s")
              case Left(e) => return Left(e)
            }
            case "read.auto-target-points" =>
              v.toLongOption match {
                case Some(n) if n > 0 => cfg = cfg.copy(readAutoTargetPoints = n)
                case _ => return Left(
                  s"--read.auto-target-points needs a positive integer, got '$v'")
              }
            case other => return Left(s"unknown long flag '--$other'")
          }
      }
      rest = tail
    }
    if (cfg.graphiteAddress.nonEmpty &&
        cfg.graphiteTransport != "tcp" && cfg.graphiteTransport != "udp")
      return Left(s"graphite-transport '${cfg.graphiteTransport}' not supported (tcp or udp)")
    if (cfg.graphiteAddress.nonEmpty && !cfg.graphiteAddress.contains(':'))
      return Left(s"graphite-address '${cfg.graphiteAddress}' is not host:port")
    // ≙ the reference's hard exit when the CA file can't be read
    // (main.go:248-252) — fail at parse time, not first connection
    if (cfg.clickhouseCaPath.nonEmpty &&
        !java.nio.file.Files.isReadable(java.nio.file.Paths.get(cfg.clickhouseCaPath)))
      return Left(s"cannot read ca-certificate '${cfg.clickhouseCaPath}'")
    // same discipline for the rule file: reject at parse time
    if (cfg.rulesFile.nonEmpty &&
        !java.nio.file.Files.isReadable(java.nio.file.Paths.get(cfg.rulesFile)))
      return Left(s"cannot read rules file '${cfg.rulesFile}'")
    Right(cfg)
  }

  /** Go time.Duration.String() for millisecond-granularity values: the
    * DSN timeouts must render exactly as the reference encodes them
    * ("10s", "500ms", "1m30s", "1h0m0s", "10.5s").
    */
  private[graft] def goDuration(ms: Long): String = {
    if (ms == 0) "0s"
    else if (ms < 1000) s"${ms}ms"
    else {
      val h = ms / 3600000
      val m = (ms % 3600000) / 60000
      val sMs = ms % 60000
      val secs =
        if (sMs % 1000 == 0) s"${sMs / 1000}s"
        else {
          val frac = f"${sMs % 1000}%03d".reverse.dropWhile(_ == '0').reverse
          s"${sMs / 1000}.${frac}s"
        }
      if (h > 0) s"${h}h${m}m$secs"
      else if (m > 0) s"${m}m$secs"
      else secs
    }
  }
}

/** Sink construction ≙ buildClients (main.go:199-283): one transport-backed
  * writer per configured backend, each isolated through FanOut.
  */
object Cli {

  def buildSinks(cfg: CliConfig): Seq[(String, DataFrame => Transport.WriteStats)] = {
    val graphite = if (cfg.graphiteAddress.isEmpty) Nil else {
      val i = cfg.graphiteAddress.lastIndexOf(':')
      val (host, port) = (cfg.graphiteAddress.substring(0, i),
        cfg.graphiteAddress.substring(i + 1).toInt)
      Seq("graphite" -> ((df: DataFrame) => Transport.totals(
        Transport.graphitePush(Formatters.graphiteLines(df, cfg.graphitePrefix),
          host, port, cfg.sendTimeoutMs.toInt, cfg.graphiteTransport))))
    }
    val opentsdb = if (cfg.opentsdbUrl.isEmpty) Nil else
      Seq("opentsdb" -> ((df: DataFrame) => Transport.totals(
        Transport.opentsdbPut(Formatters.opentsdbJson(df), cfg.opentsdbUrl,
          cfg.sendTimeoutMs.toInt))))
    val influxdb = if (cfg.influxdbUrl.isEmpty) Nil else
      Seq("influxdb" -> ((df: DataFrame) => Transport.totals(
        Transport.influxPush(Formatters.influxLines(df), cfg.influxdbUrl,
          cfg.influxdbDatabase, cfg.influxdbRetentionPolicy,
          cfg.sendTimeoutMs.toInt))))
    graphite ++ opentsdb ++ influxdb
  }

  /** Full bootstrap: DDL-ensure the metrics table (≙ NewClient → initDb,
    * clickhouse/client.go:45-83), then serve.
    */
  def buildServer(spark: SparkSession, cfg: CliConfig): Server = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.tablePath))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.clickhouseDatabase}")
    WritePipeline.ensureTable(spark, cfg.tableName, cfg.tablePath)
    val ruleGroups =
      if (cfg.rulesFile.isEmpty) Nil
      else graft.promql.Rules.parseRuleFile(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(cfg.rulesFile)), "UTF-8"))
    new Server(spark, cfg.tablePath, buildSinks(cfg), cfg.listenPort,
      metricsPath = cfg.telemetryPath, readMaxSeries = cfg.readMaxSeries,
      extraReaderPaths = cfg.readExtraTables, tierPaths = cfg.readTiers,
      autoResTargetPoints = cfg.readAutoTargetPoints,
      chunkTierPath = Option(cfg.readChunkTier).filter(_.nonEmpty),
      histChunkTierPath = Option(cfg.readHistChunkTier).filter(_.nonEmpty),
      ruleGroups = ruleGroups, enableAdminApi = cfg.enableAdminApi,
      alertmanagerUrl = Option(cfg.alertmanagerUrl).filter(_.nonEmpty),
      retentionSec = cfg.retentionSec, scrapeTargets = cfg.scrapeTargets,
      scrapeIntervalSec = cfg.scrapeIntervalSec,
      otlpConvertDelta = cfg.otlpConvertDelta,
      otlpTargetInfo = cfg.otlpTargetInfo,
      enableLifecycle = cfg.enableLifecycle,
      rulesFile = Option(cfg.rulesFile).filter(_.nonEmpty),
      ctZeroIngestion = cfg.ctZeroIngestion,
      maxExemplarsPerSeries = cfg.exemplarsMaxPerSeries)
  }
}

/** The adapter's `main` (reference: main.go:115-126): parse flags, build
  * the session, bootstrap storage, serve until killed.
  */
object Main {

  /** `check-rules <file>...` — promtool's rule-file check: parse each
    * file, print the group/rule census or the line-numbered error.
    * Returns the exit code (0 = all valid). */
  def checkRules(files: Seq[String]): Int = {
    if (files.isEmpty) { System.err.println("check-rules needs files"); return 2 }
    var rc = 0
    files.foreach { f =>
      try {
        val groups = graft.promql.Rules.parseRuleFile(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
          "UTF-8"))
        // the expressions must also PARSE, not just the YAML shape
        groups.foreach { g =>
          g.recording.foreach(r => graft.promql.Parser.parse(r.expr))
          g.alerts.foreach(a => graft.promql.Parser.parse(a.expr))
        }
        val rules = groups.map(g => g.recording.size + g.alerts.size).sum
        println(s"$f: OK — ${groups.size} group(s), $rules rule(s)")
      } catch {
        case e: Exception =>
          System.err.println(s"$f: FAILED — ${
            Option(e.getMessage).getOrElse(e.getClass.getName)}")
          rc = 1
      }
    }
    rc
  }

  /** The serving session: the one engine definition Bench, Verify and
    * the end-to-end benchmark run ([[graft.GraftSession.builder]]), so
    * what is served is what was verified and measured. `SPARK_MASTER`
    * names the master on a cluster; standalone runs (sbt runMain) use
    * all local cores. The shuffle width is `SPARK_GRAFT_CPUS`, else the
    * local core count on a local master, else 32 on a cluster (the
    * driver's own core count says nothing about the executors'). The
    * engine definition also turns the Spark UI off and sets the session
    * time zone to UTC on every master, spark-submit included.
    */
  def session(env: Map[String, String]): SparkSession.Builder = {
    val master = env.getOrElse("SPARK_MASTER", "local[*]")
    val width = env.getOrElse("SPARK_GRAFT_CPUS",
      if (master.startsWith("local"))
        Runtime.getRuntime.availableProcessors().toString
      else "32")
    graft.GraftSession.builder(master, width).appName("graft-adapter")
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("check-rules"))
      sys.exit(checkRules(args.toSeq.drop(1)))
    else CliConfig.parse(args.toSeq) match {
      case Left(err) =>
        System.err.println(err)
        if (!err.startsWith("usage:")) System.err.println(CliConfig.usage())
        sys.exit(2)
      case Right(cfg) =>
        val spark = session(sys.env).getOrCreate()
        val server = Cli.buildServer(spark, cfg).start()
        println(s"listening on :${server.boundPort}, storing to ${cfg.tablePath}")
        // serve forever, like ListenAndServe (main.go:374)
        this.synchronized { this.wait() }
    }
}
