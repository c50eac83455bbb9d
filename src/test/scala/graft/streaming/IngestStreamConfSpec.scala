package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.config.DeviceConfig
import graft.sources.TcpFixtureServer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The settings a device stream is started under: one state-store
  * partition for a new stream, the count a checkpoint recorded for a
  * resumed one, and none of them left behind on the caller's session.
  */
class IngestStreamConfSpec extends SparkTestBase {
  import spark.implicits._

  private val scopedKeys = Seq("spark.sql.shuffle.partitions",
    "fs.AbstractFileSystem.file.impl", "fs.file.impl", "fs.file.impl.disable.cache")
  private val trig = Trigger.ProcessingTime("200 milliseconds")

  private def cfgFor(port: Int) = DeviceConfig.load(s"""
    |[device]
    |station = MSU
    |name = U
    |host = localhost
    |port = $port
    |[parser]
    |regex = ^(?P<level>\\S+) RH= *(?P<rh>\\S+) %RH T= *(?P<temp>\\S+) .C\\s*$$
    |group_by = level:int
    |pack_length = 3
    |destination = ./ignored
    |""".stripMargin)

  /** Messages `from` to `to`, alternating levels 1 and 0; `rh` is the
    * message number.
    */
  private def serve(srv: TcpFixtureServer, from: Int, to: Int): Unit =
    srv.enqueueScript(TcpFixtureServer.Send(
      (from to to).map(i => s"0${i % 2} RH= $i.0 %RH T= 10.0 'C \r\n").mkString.getBytes))

  private def consumed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption).getOrElse(0L)

  private def awaitConsumed(q: StreamingQuery, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (consumed(q) < n && System.currentTimeMillis() < deadline) {
      assert(q.exception.isEmpty); Thread.sleep(100)
    }
    assert(consumed(q) >= n, s"consumed ${consumed(q)} of $n messages")
  }

  private def statePartitions(q: StreamingQuery): Int =
    q.lastProgress.stateOperators.head.numShufflePartitions.toInt

  private def rebind(port: Int): TcpFixtureServer = {
    val deadline = System.currentTimeMillis() + 15000
    while (true) {
      try return new TcpFixtureServer(port)
      catch {
        case _: java.net.BindException if System.currentTimeMillis() < deadline =>
          Thread.sleep(250)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  test("a 4-partition checkpoint resumes with 4; a fresh stream gets 1") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val dest = Files.createTempDirectory("graft-upg-").toString
    val ckpt = Files.createTempDirectory("graft-upg-ckpt-").toString
    // the plan as started before streams carried their own settings:
    // on the caller's session, 4 state partitions
    val srv = new TcpFixtureServer
    serve(srv, 0, 19)
    val q1 = IngestPipeline.partitionedWriter(spark, cfgFor(srv.port), dest, ckpt, trig).start()
    try {
      awaitConsumed(q1, 20)
      assert(statePartitions(q1) == 4)
    } finally { q1.stop(); srv.close() }
    // 20 messages: 10 per level, 3 full packs each, 1 row each in state
    val srv2 = rebind(srv.port)
    serve(srv2, 20, 39)
    val q2 = IngestPipeline.start(spark, cfgFor(srv2.port), dest, ckpt, trig)
    try {
      awaitConsumed(q2, 40)
      assert(statePartitions(q2) == 4)
    } finally { q2.stop(); srv2.close() }
    // 40 messages: 20 per level → 6 dense full packs each, the state's
    // buffered rows first
    val out = spark.read.parquet(dest)
    assert(out.count() == 36)
    val packs = out.groupBy($"level", $"pack_seq")
      .agg(count(lit(1)).as("n"), collect_list(struct($"pack_pos", $"rh")).as("rows"))
      .collect()
    assert(packs.map(r => (r.getAs[Int]("level"), r.getAs[Int]("pack_seq"))).toSet ==
      (for (l <- Seq(0, 1); s <- 0 until 6) yield (l, s)).toSet)
    packs.foreach { r =>
      val (level, seq) = (r.getAs[Int]("level"), r.getAs[Int]("pack_seq"))
      val rh = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("rows"))
        .sortBy(_.getInt(0)).map(_.getDouble(1))
      // level l holds messages l, l+2, …; pack s position p is its
      // (3s+p)-th message
      assert(rh == (0 until 3).map(p => (2 * (3 * seq + p) + level).toDouble),
        s"level $level pack $seq: $rh")
    }

    val srv3 = new TcpFixtureServer
    serve(srv3, 0, 5)
    val q3 = IngestPipeline.start(spark, cfgFor(srv3.port),
      Files.createTempDirectory("graft-fresh-").toString,
      Files.createTempDirectory("graft-fresh-ckpt-").toString, trig)
    try {
      awaitConsumed(q3, 6)
      assert(statePartitions(q3) == 1)
    } finally { q3.stop(); srv3.close() }
  }

  test("the caller's session conf is unchanged by start(), also when it throws") {
    def scoped() = scopedKeys.map(k => k -> spark.conf.getAll.get(k)).toMap
    def stockHadoopFs() = {
      val h = spark.sessionState.newHadoopConf()
      (h.get("fs.file.impl"), h.get("fs.AbstractFileSystem.file.impl"),
        h.get("fs.file.impl.disable.cache"))
    }
    spark.conf.set("fs.file.impl.disable.cache", "false")  // a caller's own value
    try {
      val before = scoped()
      val hadoopBefore = stockHadoopFs()
      assert(before("spark.sql.shuffle.partitions").contains("4"))
      assert(before("fs.file.impl").isEmpty)

      val srv = new TcpFixtureServer
      serve(srv, 0, 5)
      val q = IngestPipeline.start(spark, cfgFor(srv.port),
        Files.createTempDirectory("graft-hyg-").toString,
        Files.createTempDirectory("graft-hyg-ckpt-").toString, trig)
      try {
        assert(scoped() == before)
        awaitConsumed(q, 6)
        assert(scoped() == before)
      } finally { q.stop(); srv.close() }
      assert(stockHadoopFs() == hadoopBefore)

      // no filesystem for this scheme: start() throws while creating the query
      Seq[(String, String) => StreamingQuery](
        (d, c) => IngestPipeline.start(spark, cfgFor(1), d, c, trig),
        (d, c) => IngestPipeline.startWithFilenameTemplate(spark, cfgFor(1), d, c, trig)
      ).foreach { start =>
        intercept[Exception](start("nosuchfs://x/data", "nosuchfs://x/ckpt"))
        assert(scoped() == before)
      }
      assert(stockHadoopFs() == hadoopBefore)
    } finally spark.conf.unset("fs.file.impl.disable.cache")
  }
}
