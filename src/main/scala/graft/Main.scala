package graft

import java.nio.file.{Files, Paths}

import graft.config.{ConfigurationError, DeviceConfig}
import graft.streaming.{IngestPipeline, Runner}
import org.apache.spark.sql.SparkSession

/** CLI entry point — the Spark twin of `./readport.py` (reference
  * read_cmdline + main, readport.py:497-533, 739-778):
  *
  * {{{
  *   # parse and save device data (reference configs work verbatim):
  *   graft.Main --config readport_4001.conf
  *   # raw capture of an unknown device format to stdout:
  *   graft.Main --echo 192.168.192.48:4001 > data.bin
  * }}}
  *
  * Exactly one of `--config`/`--echo` is required (mutually exclusive,
  * as the reference's argparse group); `--debug` overrides the config's
  * `[logging] level` (readport.py:774-775). Validations ported from the
  * reference: the config file must exist and load (readport.py:764-770
  * → exit 1), `--echo` takes a literal IP plus a 1-65535 port
  * (ip_address()/urlparse checks, readport.py:745-755 → exit 1).
  *
  * K5 logging: `src/main/resources/log4j2-graft.properties` is the
  * rotating-file twin of the reference's configure_logging
  * (readport.py:623-668) — launch with
  * `-Dlog4j2.configurationFile=log4j2-graft.properties`
  * `-Dgraft.log.file=readport_4001.log` to get the same 10 MB × 5
  * rotated files plus concise console.
  */
object Main {

  final case class CliArgs(
      config: Option[String] = None,
      echo: Option[(String, Int)] = None,
      debug: Boolean = false)

  private val usage =
    """Usage: graft.Main (--config FILE | --echo IP:PORT) [--debug]
      |
      |required arguments (one of):
      |  -c, --config FILE   path to the configuration file
      |  --echo IP:PORT      print messages coming from a specified address to stdout
      |
      |options:
      |  --debug             turn on DEBUG logging (overrides the config file)""".stripMargin

  /** Argument grammar of the reference's argparse setup: `--config` xor
    * `--echo`, required, plus the `--debug` flag.
    */
  private[graft] def parseArgs(argv: Seq[String]): Either[String, CliArgs] = {
    def loop(rest: List[String], acc: CliArgs): Either[String, CliArgs] = rest match {
      case Nil => Right(acc)
      case ("--config" | "-c") :: v :: tl if !v.startsWith("-") =>
        loop(tl, acc.copy(config = Some(v)))
      case ("--config" | "-c") :: _ => Left("--config requires a file path")
      case "--echo" :: v :: tl if !v.startsWith("-") =>
        parseEndpoint(v).flatMap(hp => loop(tl, acc.copy(echo = Some(hp))))
      case "--echo" :: _ => Left("--echo requires an IP:PORT argument")
      case "--debug" :: tl => loop(tl, acc.copy(debug = true))
      case other :: _ => Left(s"Unknown argument '$other'")
    }
    loop(argv.toList, CliArgs()).flatMap {
      case a if a.config.isDefined && a.echo.isDefined =>
        Left("--config and --echo are mutually exclusive")
      case a if a.config.isEmpty && a.echo.isEmpty =>
        Left("One of --config or --echo is required")
      case a => Right(a)
    }
  }

  /** `IP:PORT` validation (reference main, readport.py:745-755): a
    * literal dotted-quad IP — hostnames are rejected, as by Python's
    * ip_address() — and a port in 1-65535.
    */
  private[graft] def parseEndpoint(s: String): Either[String, (String, Int)] = {
    val idx = s.lastIndexOf(':')
    if (idx <= 0) Left(s"Failed to parse '$s' as IP:PORT")
    else {
      val ip = s.take(idx)
      val octets = ip.split("\\.", -1)
      val ipOk = octets.length == 4 && octets.forall(o =>
        o.nonEmpty && o.length <= 3 && o.forall(_.isDigit) && o.toInt <= 255)
      if (!ipOk) Left(s"please provide a valid IP address, got '$ip'")
      else s.drop(idx + 1).toIntOption match {
        case Some(p) if p >= 1 && p <= 65535 => Right((ip, p))
        case _ => Left(s"please provide a valid port number in '$s'")
      }
    }
  }

  /** The reference accepts Python logging names (readport.py:604-606);
    * map them onto log4j levels — `setLogLevel("WARNING")` would throw.
    */
  private[graft] def toLog4jLevel(pyLevel: String): String =
    pyLevel.trim.toUpperCase(java.util.Locale.ROOT) match {
      case "WARNING"  => "WARN"
      case "CRITICAL" => "FATAL"
      case "NOTSET"   => "INFO"
      case l if Set("ALL", "TRACE", "DEBUG", "INFO", "WARN", "ERROR",
        "FATAL", "OFF")(l) => l
      case other => throw graft.config.ConfigurationError(
        s"Unknown [logging] level '$other'")
    }

  /** K5 — wire the config's `[logging] file` into log4j2 at runtime:
    * reconfigure the context from the shipped `log4j2-graft.properties`
    * (concise console + 10 MB × 5 rotating file, the reference's
    * configure_logging, readport.py:623-668 — which likewise REPLACES
    * the root logging config via dictConfig). Non-fatal if log4j2 isn't
    * the backing implementation.
    */
  private[graft] def attachRollingLog(file: String, level: String): Unit =
    try {
      System.setProperty("graft.log.file", file)
      System.setProperty("graft.log.level", level)
      val res = getClass.getClassLoader.getResource("log4j2-graft.properties")
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      ctx.setConfigLocation(res.toURI)  // triggers reconfiguration
    } catch {
      case e: Throwable =>
        System.err.println(s"warning: could not attach rotating log '$file': $e")
    }

  /** Config mode, factored for tests: load + validate the file, start
    * the reference-parity pipeline (filename-template sink, one file
    * per completed pack). Throws ConfigurationError/IO errors upward.
    */
  private[graft] def startFromConfig(spark: SparkSession, path: String,
      debug: Boolean): org.apache.spark.sql.streaming.StreamingQuery = {
    val text = new String(Files.readAllBytes(Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val cfg = DeviceConfig.load(text)
    val level =
      if (debug) "DEBUG" else toLog4jLevel(cfg.logLevel.getOrElse("INFO"))
    spark.sparkContext.setLogLevel(level)
    cfg.logFile.foreach(f => attachRollingLog(f, level))
    Runner.attachHeartbeat(spark)()
    IngestPipeline.startWithFilenameTemplate(spark, cfg, cfg.destination,
      s"${cfg.destination}/.checkpoint-${cfg.device}-${cfg.port}")
  }

  def main(argv: Array[String]): Unit = parseArgs(argv.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(err)
      System.err.println(usage)
      sys.exit(1)
    case Right(a) => a.echo match {
      case Some((host, port)) =>
        // no Spark session: echo is the raw netcat mode, one connection,
        // exit on any error (readport.py:685-688)
        Runner.echo(host, port)
      case None =>
        val spark = SparkSession.builder()
          .appName(s"graft-readport")
          .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
          .getOrCreate()
        val q =
          try startFromConfig(spark, a.config.get, a.debug)
          catch {
            case e @ (_: ConfigurationError | _: java.io.IOException) =>
              System.err.println(s"Failed to load configuration: ${e.getMessage}")
              sys.exit(1)
          }
        q.awaitTermination()
    }
  }
}
