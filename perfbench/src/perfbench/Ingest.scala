package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.DeviceConfig
import graft.streaming.{CountWindow, IngestPipeline}

/** The two ingest workloads. Messages come from the out-of-process
  * generator (gen_ingest.py) over loopback TCP, one connection per
  * device, into one [[IngestPipeline.start]] query per device.
  *
  * The JVM only knows when every line has been consumed (the source's
  * end offset in the last progress, a message count) and then stops
  * the queries; pack commit times are read afterwards by run.py from
  * each sink's `_spark_metadata` log. The output check runs
  * after timing ends.
  */
object Ingest {
  final case class Dev(name: String, kind: String, pack: Int, port: Int, lines: Long) {
    def keyCol: String = if (kind == "probe") "level" else "_device"
  }

  def cfgFor(d: Dev): DeviceConfig = {
    val parser =
      if (d.kind == "sonic")
        s"""regex = ^u= *(?P<u>\\S+) v= *(?P<v>\\S+) w= *(?P<w>\\S+) t= *(?P<temp>\\S+) n= *(?P<seq>\\S+)\\s*$$
           |pack_length = ${d.pack}""".stripMargin
      else
        s"""regex = ^(?P<level>\\S+) RH= *(?P<rh>\\S+) %RH T= *(?P<temp>\\S+) .C n= *(?P<seq>\\S+)\\s*$$
           |group_by = level:int
           |pack_length = ${d.pack}""".stripMargin
    DeviceConfig.load(s"""
      |[device]
      |station = BNCH
      |name = ${d.name}
      |host = 127.0.0.1
      |port = ${d.port}
      |timeout = 120
      |[parser]
      |$parser
      |destination = ./unused
      |""".stripMargin)
  }

  private def endOffset(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption).getOrElse(0L)

  /** Block until every query's source has consumed its expected line
    * count (progress is posted after the batch's sink commit), or fail
    * at the deadline. Reads in-memory progress only: no Spark job.
    */
  private def awaitConsumed(qs: Seq[(StreamingQuery, Long)], deadlineMs: Long): Unit = {
    while (!qs.forall { case (q, n) => endOffset(q) >= n }) {
      qs.foreach { case (q, _) => q.exception.foreach(e => throw e) }
      if (System.currentTimeMillis() > deadlineMs)
        sys.error("ingest timed out: consumed " +
          qs.map { case (q, n) => s"${endOffset(q)}/$n" }.mkString(", "))
      Thread.sleep(5)
    }
  }

  def run(c: Conf, out: String): Unit = {
    val trace = new Trace(c.bool("trace"))
    val cores = c.int("cores")
    val runDir = c("run_dir")
    val deadline = System.currentTimeMillis() + (c.dbl("deadline_s") * 1000).toLong
    val trigger = Trigger.ProcessingTime(c.int("trigger_ms").toLong)
    val devs = c("devices").split(",").toSeq.map { n =>
      Dev(n, c(s"dev.$n.kind"), c.int(s"dev.$n.pack"), c.int(s"dev.$n.port"),
        c(s"dev.$n.lines").toLong)
    }

    val spark = trace.span("session", "setup")(Common.session(cores, "perfbench-ingest"))
    trace.attach(spark)
    spark.sparkContext.setJobGroup(s"${c("workload")}/warmup/setup", "setup")
    // warm-up: one short stream per device through the same path, from
    // the device's first connection into directories of its own
    trace.span("warmup", "setup") {
      val qs = devs.map { d =>
        val w = d.copy(pack = c.int(s"dev.${d.name}.warm_pack"),
          lines = c(s"dev.${d.name}.warm_lines").toLong)
        IngestPipeline.start(spark, cfgFor(w), s"$runDir/warm/${d.name}/data",
          s"$runDir/warm/${d.name}/ckpt", trigger) -> w.lines
      }
      try awaitConsumed(qs, deadline) finally qs.foreach(_._1.stop())
    }
    val setupS = Common.uptimeS

    spark.sparkContext.setJobGroup(s"${c("workload")}/stream/measure", "measure")
    trace.resetExec()
    val t0 = System.currentTimeMillis()
    val queries = trace.span("measure", "run") {
      val qs = devs.map { d =>
        d -> IngestPipeline.start(spark, cfgFor(d), s"$runDir/${d.name}/data",
          s"$runDir/${d.name}/ckpt", trigger)
      }
      try awaitConsumed(qs.map { case (d, q) => q -> d.lines }, deadline)
      finally qs.foreach(_._2.stop())
      qs
    }
    val measureS = (System.currentTimeMillis() - t0) / 1e3
    val execMeasure = trace.execJson(measureS, cores)

    spark.sparkContext.setJobGroup(s"${c("workload")}/check/check", "check")
    val check = trace.span("check", "run")(devs.map(d => d.name -> checkSink(spark, d, runDir)).toMap)

    val probes =
      if (trace.on) trace.span("probes", "run")(layerProbes(spark, c, runDir))
      else Map.empty[String, Any]

    val idToDev = queries.map { case (d, q) => q.id.toString -> d.name }.toMap
    val progress = trace.progress.synchronized(trace.progress.toList)
      .filter(p => idToDev.contains(p("query").toString))
      .map(p => p.updated("query", idToDev(p("query").toString)))
    Json.write(out, Map(
      "setup_s" -> setupS,
      "measure_s" -> measureS,
      "peak_rss_mb" -> Common.peakRssMb,
      "sinks" -> devs.map(d => d.name -> s"$runDir/${d.name}/data").toMap,
      "check" -> check,
      "progress" -> progress,
      "exec" -> execMeasure,
      "probes" -> probes,
      "spans" -> trace.spansJson))
    spark.stop()
  }

  /** Untimed output check of one device's sink: every committed pack is
    * full, pack numbers are dense, and each row's sequence number is
    * exactly `pack_seq * pack + pack_pos` — so per key the committed
    * rows are the consecutive kept messages 0 until rows.
    */
  private def checkSink(spark: SparkSession, d: Dev, runDir: String): Map[String, Any] = {
    val df = spark.read.parquet(s"$runDir/${d.name}/data")
    val perPack = df.groupBy(col(d.keyCol).cast("string").as("k"), col("pack_seq"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("seq") =!= col("pack_seq") * d.pack + col("pack_pos"), 1).otherwise(0)).as("bad_seq"),
        sum(when(col("temp").isNull, 1).otherwise(0)).as("null_temp"))
    val perKey = perPack.groupBy("k").agg(
      sum("n").as("rows"), count(lit(1)).as("packs"),
      (max("pack_seq") + 1).as("pack_span"),
      sum(when(col("n") =!= d.pack, 1).otherwise(0)).as("bad_packs"),
      sum("bad_seq").as("bad_seq"), sum("null_temp").as("null_temp"))
      .collect()
    perKey.map { r =>
      r.getString(0) -> Map(
        "rows" -> r.getLong(1), "packs" -> r.getLong(2), "pack_span" -> r.getInt(3).toLong,
        "bad_packs" -> r.getLong(4), "bad_seq" -> r.getLong(5), "null_temp" -> r.getLong(6))
    }.toMap
  }

  /** Per-layer probes, batch execution over a static frame of one sonic
    * device's ingest_burst payload: the parse stage, the count-window
    * pack, and the partitioned parquet write, each timed over a cached
    * input with the cost of scanning that input (noop write)
    * subtracted. Median of three.
    */
  private def layerProbes(spark: SparkSession, c: Conf, runDir: String): Map[String, Any] = {
    val d = Dev("S1", "sonic", c.int("probe.pack"), 0, 0L)
    val cfg = cfgFor(d)
    spark.sparkContext.setJobGroup(s"${c("workload")}/probe/parse", "probe")
    val raw = spark.read.text(c("probe.payload"))
      .select(col("value"), current_timestamp().as("time"), lit(false).as("fresh"))
      .cache()
    val n = raw.count()
    def med(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }
      ts.sorted.apply(1).toDouble
    }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val parseNs = med(noop(IngestPipeline.parseStage(raw, cfg))) - med(noop(raw))
    val parsed = IngestPipeline.parseStage(raw, cfg).withColumn("_device", lit(d.name)).cache()
    val kept = parsed.count()
    spark.sparkContext.setJobGroup(s"${c("workload")}/probe/pack", "probe")
    val packNs = med(noop(CountWindow.packByCount(parsed, "_device", d.pack))) - med(noop(parsed))
    val packed = CountWindow.packByCount(parsed, "_device", d.pack).cache()
    val packedRows = packed.count()
    spark.sparkContext.setJobGroup(s"${c("workload")}/probe/sink", "probe")
    var i = 0
    val sinkNs = med {
      i += 1
      packed.write.mode("overwrite").partitionBy("_device", "pack_seq")
        .parquet(s"$runDir/probe_sink/$i")
    } - med(noop(packed))
    Seq(raw, parsed, packed).foreach(_.unpersist())
    Map(
      "msgs" -> n, "kept" -> kept, "packed_rows" -> packedRows,
      "parse_ns_per_msg" -> math.max(0.0, parseNs) / n,
      "pack_ns_per_msg" -> math.max(0.0, packNs) / math.max(1L, kept),
      "sink_ns_per_msg" -> math.max(0.0, sinkNs) / math.max(1L, packedRows))
  }
}
