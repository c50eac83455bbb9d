package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Q
import graft.config.Tuning
import graft.operators._

/** The batch-analytics half: registry queries over the generated tables,
  * each built (`Q.spark`) and executed once, in the seeded order, after
  * setup has built the slate's stores into this run's fresh store root.
  * Execution is an order-independent fingerprint of the output rows
  * (row count + wrapping sum of per-row MD5 prefixes), so the one
  * action that times the query also yields the output check.
  */
object Batch {
  /** Query name → registry module, from each module's own `.all`. */
  def modules(t: Tuning): Seq[(String, Seq[Q])] = Seq(
    "Relational" -> new Relational(t).all, "Stats" -> Stats.all,
    "Dedup" -> new Dedup(t).all, "Similarity" -> new Similarity(t).all,
    "TextOps" -> new TextOps(t).all, "Bpe" -> new Bpe(t).all, "Sp" -> new Sp(t).all,
    "Search" -> new Search(t).all, "Multimodal" -> Multimodal.all,
    "MediaDedup" -> new MediaDedup(t).all, "Assemble" -> new Assemble(t).all,
    "ParseOps" -> ParseOps.all)

  /** Build one store through its public entry point: the `ensure*`
    * call where one is public, else the store's compaction, which on a
    * store with no segments only ensures the base artifact.
    */
  def buildStore(spark: SparkSession, d: String, store: String): Unit = {
    val t = Tuning.current
    store match {
      case "vector"  => new Similarity(t).compact(spark, d)
      case "siglake" => new Dedup(t).compact(spark, d)
      case "bm25"    => new Search(t).compactBm25Index(spark, d)
      case "runs"    => new Search(t).compactRunsIndex(spark, d)
      case "lm"      => new TextOps(t).ensureLm(spark, d)
      case "media"   => Multimodal.MediaLake.ensure(spark, d)
      case "dhash"   => MediaDedup.ensureDhash(spark, d)
      case "sp"      => new Sp(t).ensureSp(spark, d)
      case s => sys.error(s"unknown store $s")
    }
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** (rows, order-independent hash) of a query's output. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val parts = df.rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val b = md.digest(canon(r).getBytes("UTF-8"))
        h += java.nio.ByteBuffer.wrap(b, 0, 8).getLong
        n += 1
      }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  def run(c: Conf, out: String): Unit = {
    val trace = new Trace(c.bool("trace"))
    val cores = c.int("cores")
    val data = c("data_dir")
    val warm = c("warm_dir")
    val order = c("order").split(",").toSeq
    val stores = c("stores").split(",").filter(_.nonEmpty).toSeq

    val spark = trace.span("session", "setup")(Common.session(cores, "perfbench-batch"))
    trace.attach(spark)
    val sc = spark.sparkContext
    val storeS = stores.map { s =>
      sc.setJobGroup(s"batch_suite/setup.$s/build", "setup")
      val t0 = System.nanoTime()
      trace.span(s"setup.$s", "setup")(buildStore(spark, data, s))
      s -> Common.secs(t0)
    }.toMap
    val registry = graft.QRegistry.default.all.map(q => q.name -> q).toMap
    val moduleOf = modules(Tuning.current).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    // warm-up: the whole slate once on a different data directory, so the
    // timed pass runs JIT-warm code while no artifact, memo or cache of
    // the timed input exists before its timed call
    trace.span("warmup", "setup") {
      order.foreach { q =>
        sc.setJobGroup(s"batch_suite/$q/warmup", "warmup")
        fingerprint(registry(q).spark(spark, warm))
        spark.catalog.clearCache()
      }
    }
    val setupS = Common.uptimeS

    def timed(q: String, pass: String): Map[String, Any] = {
      val parent = s"$pass/$q"
      sc.setJobGroup(s"batch_suite/$q/build", "build")
      val t0 = System.nanoTime()
      val df = trace.span("build", parent)(registry(q).spark(spark, data))
      val t1 = System.nanoTime()
      sc.setJobGroup(s"batch_suite/$q/execute", "execute")
      val (rows, hash) = trace.span("execute", parent)(fingerprint(df))
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      Map("query" -> q, "module" -> moduleOf(q), "build_s" -> (t1 - t0) / 1e9,
        "execute_s" -> (t2 - t1) / 1e9, "rows" -> rows, "hash" -> hash)
    }
    trace.resetExec()
    val t0 = System.nanoTime()
    val results = trace.span("queries", "run")(order.map(q => timed(q, "first")))
    val totalS = Common.secs(t0)
    val execMeasure = trace.execJson(totalS, cores)
    val second =
      if (trace.on) trace.span("second_calls", "run")(order.map(q => timed(q, "second")))
      else Nil

    Json.write(out, Map(
      "setup_s" -> setupS,
      "total_s" -> totalS,
      "peak_rss_mb" -> Common.peakRssMb,
      "stores" -> storeS,
      "queries" -> results,
      "second" -> second,
      "exec" -> execMeasure,
      "spans" -> trace.spansJson))
    spark.stop()
  }
}
