package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}

import graft.config.Tuning
import graft.operators._

/** The store-maintenance workload: one client in a closed loop over the
  * two hand-rolled stores (vector index, signature lake) and two
  * segment-skeleton stores (BM25, substring runs), all built in setup
  * into this run's fresh store root. Each round adds a few items to
  * every store, serves them back, removes from the stores that support
  * removal, serves again, and every few rounds compacts every store.
  * Each serve answer is checked against the step before it.
  */
object Churn {
  final case class Call(store: String, kind: String, ms: Double, ok: Boolean, round: Int)

  def run(c: Conf, out: String): Unit = {
    val trace = new Trace(c.bool("trace"))
    val cores = c.int("cores")
    val data = c("data_dir")
    val ops = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(c("ops")), classOf[java.util.Map[String, Any]])
    val rounds = ops.get("rounds").asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.toSeq
    val compactEvery = ops.get("compact_every").asInstanceOf[Int]
    val stores = Seq("vector", "siglake", "bm25", "runs")

    val spark = trace.span("session", "setup")(Common.session(cores, "perfbench-churn"))
    trace.attach(spark)
    import spark.implicits._
    val sc = spark.sparkContext
    val storeS = stores.map { s =>
      sc.setJobGroup(s"store_churn/setup.$s/build", "setup")
      val t0 = System.nanoTime()
      trace.span(s"setup.$s", "setup")(Batch.buildStore(spark, data, s))
      s -> Common.secs(t0)
    }.toMap
    val setupS = Common.uptimeS

    val t = Tuning.current
    val sim = new Similarity(t)
    val dedup = new Dedup(t)
    val search = new Search(t)
    val calls = mutable.ArrayBuffer[Call]()
    val errors = mutable.ArrayBuffer[String]()
    def call[T](store: String, kind: String, round: Int)(f: => T)(check: T => Option[String]): T = {
      sc.setJobGroup(s"store_churn/$store/$kind", kind)
      val t0 = System.nanoTime()
      val r = trace.span(s"$store.$kind", s"round$round")(f)
      val ms = (System.nanoTime() - t0) / 1e6
      val err = check(r)
      err.foreach(e => errors += s"round $round $store.$kind: $e")
      calls += Call(store, kind, ms, err.isEmpty, round)
      r
    }
    def ids(df: DataFrame, col: String, rank: Column): Seq[Long] =
      df.orderBy(rank).select(col).collect().toSeq.map(_.getAs[Number](0).longValue)
    def expect(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)

    def docs(x: Any): Seq[(Long, String)] =
      x.asInstanceOf[java.util.List[java.util.List[Any]]].asScala.toSeq.map { p =>
        (p.get(0).asInstanceOf[Number].longValue, p.get(1).toString)
      }
    def vecs(x: Any): Seq[(Long, Array[Float])] =
      x.asInstanceOf[java.util.List[java.util.List[Any]]].asScala.toSeq.map { p =>
        (p.get(0).asInstanceOf[Number].longValue,
          p.get(1).asInstanceOf[java.util.List[Any]].asScala
            .map(_.asInstanceOf[Number].floatValue).toArray)
      }

    var live = Map("vector" -> c("base.vectors").toLong, "siglake" -> c("base.docs").toLong,
      "bm25" -> c("base.docs").toLong, "runs" -> c("base.docs").toLong)
    trace.resetExec()
    val deadline = System.nanoTime() + (c.dbl("seconds") * 1e9).toLong
    val t0 = System.nanoTime()
    var r = 0
    trace.span("churn", "run") {
      while (System.nanoTime() < deadline && r < rounds.size) {
        val op = rounds(r)
        // vector index: add a batch, find its probe vector, remove it,
        // and the removed id must be gone from the answer
        val vAdd = vecs(op.get("vec_add"))
        val probe = vAdd.head
        call("vector", "add", r)(sim.addVectors(spark, data, vAdd))(ok => expect(ok, "not installed"))
        call("vector", "serve", r)(ids(sim.search(spark, data, Seq(probe), 5), "n_id", $"rk"))(
          got => expect(got.headOption.contains(probe._1), s"top hit ${got.headOption}, want ${probe._1}"))
        call("vector", "remove", r)(sim.removeVectors(spark, data, Seq(probe._1)))(ok => expect(ok, "not installed"))
        call("vector", "serve", r)(ids(sim.search(spark, data, Seq(probe), 5), "n_id", $"rk"))(
          got => expect(!got.contains(probe._1), s"removed id ${probe._1} returned"))
        live += "vector" -> (live("vector") + vAdd.size - 1)

        // signature lake: the batch holds an exact duplicate of a stored
        // doc; serving its text finds it; after removal it is gone
        val dAdd = docs(op.get("doc_add"))
        val dup = dAdd.head
        val probeDoc = Seq((op.get("doc_probe_id").asInstanceOf[Number].longValue, dup._2))
        call("siglake", "add", r)(dedup.addDocs(spark, data, dAdd))(ok => expect(ok, "not installed"))
        call("siglake", "serve", r)(ids(dedup.serveNearDups(spark, data, probeDoc), "match_id", $"match_id"))(
          got => expect(got.contains(dup._1), s"added duplicate ${dup._1} not found in $got"))
        call("siglake", "remove", r)(dedup.removeDocs(spark, data, Seq(dup._1)))(ok => expect(ok, "not installed"))
        call("siglake", "serve", r)(ids(dedup.serveNearDups(spark, data, probeDoc), "match_id", $"match_id"))(
          got => expect(!got.contains(dup._1), s"removed id ${dup._1} returned"))
        live += "siglake" -> (live("siglake") + dAdd.size - 1)

        // BM25: a doc carrying a term no other doc has is the top hit
        val bAdd = docs(op.get("bm25_add"))
        val term = op.get("bm25_term").toString
        call("bm25", "add", r)(search.addBm25Docs(spark, data, bAdd.toDF("doc_id", "text")))(
          ok => expect(ok, "not installed"))
        call("bm25", "serve", r)(ids(search.serveBm25(spark, data, Seq(term), 5), "doc_id", $"bm25".desc))(
          got => expect(got.headOption.contains(bAdd.head._1), s"top hit ${got.headOption}, want ${bAdd.head._1}"))
        live += "bm25" -> (live("bm25") + bAdd.size)

        // substring runs: replaying an added doc's text finds that doc
        val rAdd = docs(op.get("runs_add"))
        val rProbe = Seq((op.get("runs_probe_id").asInstanceOf[Number].longValue, rAdd.head._2))
        call("runs", "add", r)(search.addRunsDocs(spark, data, rAdd.toDF("doc_id", "text")))(
          ok => expect(ok, "not installed"))
        call("runs", "serve", r)(ids(search.serveRuns(spark, data, rProbe.toDF("id", "text")), "doc_id", $"doc_id"))(
          got => expect(got.contains(rAdd.head._1), s"added doc ${rAdd.head._1} not found in $got"))
        live += "runs" -> (live("runs") + rAdd.size)

        if ((r + 1) % compactEvery == 0) {
          call("vector", "compact", r)(sim.compact(spark, data))(_ => None)
          call("siglake", "compact", r)(dedup.compact(spark, data))(_ => None)
          call("bm25", "compact", r)(search.compactBm25Index(spark, data))(_ => None)
          call("runs", "compact", r)(search.compactRunsIndex(spark, data))(_ => None)
        }
        r += 1
      }
    }
    val loopS = Common.secs(t0)
    val execMeasure = trace.execJson(loopS, cores)

    // on-disk footprint per store: every file under the store's dirs
    val root = new java.io.File(sys.props("graft.index.dir"))
    val prefix = Map("vector" -> "index-", "siglake" -> "dedup-", "bm25" -> "bm25-", "runs" -> "runs-")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val footprint = stores.map { s =>
      val files = Option(root.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix(s))).flatMap(walk)
        .filterNot(f => f.getName.endsWith(".crc"))
      s -> Map("files" -> files.size, "bytes" -> files.map(_.length).sum, "live_rows" -> live(s))
    }.toMap

    Json.write(out, Map(
      "setup_s" -> setupS,
      "loop_s" -> loopS,
      "rounds" -> r,
      "peak_rss_mb" -> Common.peakRssMb,
      "stores" -> storeS,
      "calls" -> calls.map(x => Map("store" -> x.store, "kind" -> x.kind, "ms" -> x.ms,
        "ok" -> x.ok, "round" -> x.round)),
      "errors" -> errors,
      "footprint" -> footprint,
      "exec" -> execMeasure,
      "spans" -> trace.spansJson))
    spark.stop()
  }
}
