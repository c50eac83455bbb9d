package graft.streaming

import graft.config.DeviceConfig
import graft.functions.RegexExtractNamed.regexp_extract_named
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Config-compiled ingest pipeline — the whole reference engine
  * (readport.py §3.1 lifecycle) as one declarative streaming plan:
  *
  *   graft-socket source (S1-S5) → regexp_extract_named (P1) →
  *   sentinel/cast layer (P2-P3) → arrival time (P4) →
  *   count-window pack (G1-G2) → partitioned Parquet sink (K1)
  *
  * The reference's two-process queue topology (X1) maps to Spark's
  * source/task decoupling; its fail-fast backpressure (X2) to trigger
  * admission control; graceful drain (X3) to `query.stop()` +
  * checkpoint recovery.
  *
  * Both entry points start a stream on one state-store partition and
  * with its own local-filesystem classes (`streamConf`): each trigger
  * commits offset, state and pack files, and stock Hadoop without its
  * native library forks a `chmod` or `readlink` for nearly every one.
  */
object IngestPipeline {

  /** The raw message stream (reference `--echo` mode, K2,
    * readport.py:671-693).
    */
  def rawStream(spark: SparkSession, host: String, port: Int,
      timeoutSec: Option[Double] = None,
      maxPerTrigger: Option[Long] = None,
      walMaxSegments: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("graft-socket")
      .option("host", host).option("port", port)
    timeoutSec.foreach(t => r.option("timeoutSec", t))
    maxPerTrigger.foreach(m => r.option("maxMessagesPerTrigger", m))
    walMaxSegments.foreach(w => r.option("walMaxSegments", w))
    r.load()
  }

  /** P1-P4: one-pass named-group extraction, `///`→NULL, cast layer
    * (float64 default, typed group key), malformed-row drop (F1), and
    * cast-failure row-kill (reference readport.py:362-364: a cast error
    * invalidates the whole record, not just the field).
    *
    * Input needs columns `value` (message) and `time` (arrival).
    * Output schema == cfg.schema (variables + time).
    */
  def parseStage(df: DataFrame, cfg: DeviceConfig): DataFrame = {
    val sqlTypeOf: String => String = v => cfg.groupBy match {
      case Some(g) if g.name == v => g.dtype match {
        case "int" => "BIGINT"
        case "str" => "STRING"
        case _     => "DOUBLE"
      }
      case _ => "DOUBLE"
    }
    val extracted = df
      .withColumn("_ex", regexp_extract_named(col("value"), cfg.regex))
    val withCasts = cfg.variables.foldLeft(extracted) { (d, v) =>
      d.withColumn(v, expr(s"try_cast(_ex.`$v` AS ${sqlTypeOf(v)})"))
    }
    // P2 row-kill: a non-null capture that fails its cast invalidates
    // the record (try_cast null while the raw string wasn't).
    val valid = cfg.variables
      .map(v => col(s"_ex.`$v`").isNull || col(v).isNotNull)
      .reduce(_ && _)
    // F1 observability (readport.py:353-364): the reference logs every
    // parse failure at ERROR, demoted to DEBUG for a torn first message
    // on a fresh connection; a cast failure kills the row. The
    // Spark-native form is an `observe` node: per-batch counts arrive in
    // StreamingQueryProgress.observedMetrics (QueryExecutionListener in
    // batch) at zero hot-path cost — a per-row log call would serialize
    // 100 TB worth of failures through one logger.
    val freshCol =
      if (df.columns.contains("fresh")) col("fresh") else lit(false)
    val observed = withCasts.observe("graft_parse",
      sum(when(col("_ex").isNull && !freshCol, 1L).otherwise(0L)).as("regex_drop"),
      sum(when(col("_ex").isNull && freshCol, 1L).otherwise(0L)).as("regex_drop_fresh"),
      sum(when(col("_ex").isNotNull && !valid, 1L).otherwise(0L)).as("cast_kill"))
    observed
      // F1: regex non-match → record skipped, stream continues
      .filter(col("_ex").isNotNull)
      .filter(valid)
      .select(cfg.variables.map(col) :+ col("time"): _*)
  }

  /** Full pipeline: socket → parse → count-window pack → Parquet,
    * partitioned by the group key (G1; the reference encodes it in the
    * filename, P5/P7 — `partitionBy` likewise strips it from data files)
    * and by pack sequence (one directory per completed window ≙ one
    * `.npz` per full buffer, K1). Atomicity comes from the file-sink
    * commit protocol — the industrial form of the reference's
    * tmp→rename (readport.py:403-408).
    */
  def start(spark: SparkSession, cfg: DeviceConfig, dest: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    withStreamConf(spark)(partitionedWriter(spark, cfg, dest, checkpoint, trigger).start())

  /** [[start]]'s query, unstarted, under the caller's session settings. */
  private[streaming] def partitionedWriter(spark: SparkSession, cfg: DeviceConfig,
      dest: String, checkpoint: String, trigger: Trigger): DataStreamWriter[Row] = {
    val (packed, keyCol) = packedStream(spark, cfg)
    packed.writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", checkpoint)
      .partitionBy(keyCol, "pack_seq")
      .trigger(trigger)
  }

  /** Exact filename parity with the reference (P7/K1,
    * readport.py:392-395, 560-563): every completed pack becomes ONE
    * columnar file named `{station}_{device}{group}_{date}[_seq]`, via
    * `foreachBatch`. The per-pack driver loop is fine at the
    * reference's emission cadence (one file per device per window —
    * minutes apart); the partitioned sink in [[start]] is the
    * high-throughput mode.
    */
  def startWithFilenameTemplate(spark: SparkSession, cfg: DeviceConfig,
      dest: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = withStreamConf(spark) {
    val (packed, keyCol) = packedStream(spark, cfg)
    packed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist BEFORE multiple actions: re-evaluating a stateful
        // batch plan would replay flatMapGroupsWithState against
        // already-committed state and lose pack rows
        batch.persist()
        try {
          val packs = batch.select(col(keyCol), col("pack_seq"))
            .distinct().collect()
          packs.foreach { r =>
            val g = r.get(0)
            val seq = r.getLong(1)
            // null-safe: a group key parsed from the /// sentinel is a
            // legal NULL (readport.py:259-262) — it becomes an empty
            // group fragment in the name, and the pack filter must use
            // <=> (null === null is NULL, silently dropping the pack)
            val stem = cfg.fileStem(cfg.groupBy.flatMap(_ => Option(g)),
              java.time.Instant.now())
            batch.filter(col(keyCol) <=> lit(g) && col("pack_seq") === seq)
              .drop(keyCol, "pack_seq")  // P5: group lives in the name
              .coalesce(1)
              .write.mode("overwrite")
              .parquet(s"$dest/${stem}_$seq.parquet")
          }
        } finally batch.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Socket → parse → count-window pack, and the key column it packs by. */
  private def packedStream(spark: SparkSession, cfg: DeviceConfig): (DataFrame, String) = {
    val parsed = parseStage(
      rawStream(spark, cfg.host, cfg.port, cfg.timeoutSec, cfg.maxPerTrigger,
        cfg.walMaxSegments), cfg)
    val keyCol = cfg.groupBy.map(_.name).getOrElse("_device")
    val keyed =
      if (cfg.groupBy.isDefined) parsed else parsed.withColumn("_device", lit(cfg.device))
    (CountWindow.packByCount(keyed, keyCol, cfg.packLength), keyCol)
  }

  /** Set on the session while a device stream starts: one state-store
    * partition, as a device is one ordered source partition with 1 to 4
    * keys ([[CountWindow]]), and the subprocess-free local filesystem of
    * [[graft.fs]] for `file:` paths. The FileSystem cache is bypassed, as
    * the JVM-wide cache would hand back its stock instance.
    */
  private val streamConf = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.NioLocalFs].getName,
    "fs.file.impl" -> classOf[graft.fs.NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Run `start` under [[streamConf]], then restore the caller's values
    * (also when it throws). The query clones the session conf as it is
    * constructed, so the stream keeps the settings; a restarted one keeps
    * the partition count its offset log recorded.
    */
  private def withStreamConf(spark: SparkSession)(start: => StreamingQuery): StreamingQuery =
    streamConf.synchronized {
      val before = spark.conf.getAll
      streamConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try start
      finally streamConf.foreach { case (k, _) =>
        before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
}
