package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.config.DeviceConfig
import graft.sources.TcpFixtureServer
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

/** Guard: an ingest stream commits its checkpoint, state-store, WAL and
  * sink files without launching a single process through Hadoop's
  * `Shell` (which, without the native Hadoop library, forks `chmod` per
  * created file and `readlink` per rename). Process launches are taken
  * from an in-process JFR recording of `jdk.ProcessStart`.
  */
class IngestForkFreeSpec extends SparkTestBase with BeforeAndAfterAll {

  private val cfgText = """
    |[device]
    |station = MSU
    |name = F
    |host = localhost
    |port = %d
    |max_messages_per_trigger = 6
    |[parser]
    |regex = ^(?P<level>\S+) RH= *(?P<rh>\S+) %%RH T= *(?P<temp>\S+) .C\s*$
    |group_by = level:int
    |pack_length = 3
    |destination = ./ignored
    |""".stripMargin

  private def lines(n: Int): Seq[String] =
    (1 to n).map(i => s"0${i % 2} RH= $i.0 %RH T= 10.0 'C \r\n")

  override def beforeAll(): Unit = {
    // not under test: session start-up, Shell's one-off class init, and
    // first-use code generation of the parse → pack → parquet plan
    Class.forName("org.apache.hadoop.util.Shell")
    val cfg = DeviceConfig.load(cfgText.format(1))
    val batch = spark.createDataFrame(lines(6).map(l => (l, new java.sql.Timestamp(0L))))
      .toDF("value", "time")
    CountWindow.packByCount(IngestPipeline.parseStage(batch, cfg), "level", 3)
      .write.partitionBy("level", "pack_seq")
      .parquet(Files.createTempDirectory("graft-forks-warm-").resolve("out").toString)
  }

  /** `jdk.ProcessStart` events launched through Hadoop's Shell while
    * `body` ran.
    */
  private def shellLaunches(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks-", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("a few ingest triggers launch no process through Hadoop's Shell") {
    // control: the recording does see Shell launches, here a stock chmod
    if (!NativeIO.isAvailable) {
      val stock = new RawLocalFileSystem
      stock.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
      val f = Files.createTempFile("graft-forks-", ".txt")
      try assert(shellLaunches(stock.setPermission(new Path(f.toUri),
        new FsPermission(Integer.parseInt("640", 8).toShort))).nonEmpty)
      finally Files.delete(f)
    }

    val srv = new TcpFixtureServer
    srv.enqueue(lines(18).mkString.getBytes)
    val cfg = DeviceConfig.load(cfgText.format(srv.port))
    val dest = Files.createTempDirectory("graft-forks-").toString
    val ckpt = Files.createTempDirectory("graft-forks-ckpt-").toString
    var (consumed, batches) = (0L, 0)
    val launches = shellLaunches {
      val q = IngestPipeline.start(spark, cfg, dest, ckpt,
        trigger = Trigger.ProcessingTime("200 milliseconds"))
      try {
        // in-memory progress only: reading the sink here would list it
        // through the caller's stock filesystem
        def endOffset() = Option(q.lastProgress).flatMap(_.sources.headOption)
          .flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption).getOrElse(0L)
        val deadline = System.currentTimeMillis() + 30000
        while (endOffset() < 18 && q.exception.isEmpty &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(q.exception.isEmpty)
        consumed = endOffset()
        batches = q.recentProgress.count(_.numInputRows > 0)
      } finally { q.stop(); srv.close() }
    }
    val firstStack = launches.headOption.toSeq.flatMap(_.getStackTrace.getFrames.asScala)
      .take(12).map(f => s"  ${f.getMethod.getType.getName}.${f.getMethod.getName}")
    val n = launches.size
    assert(n == 0, s"Shell launches in $batches triggers, first from:\n${firstStack.mkString("\n")}")
    assert(consumed == 18, "ingest never consumed its 18 messages")
    assert(batches >= 3, s"only $batches data-carrying triggers")
    // the packs did land (checked after the recording)
    assert(spark.read.parquet(dest).count() == 18)
  }
}
