package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.Tables
import graft.sinks.Sinks
import graft.streaming.{LogEvent, Streams}

/** The reference's ODS → DWD → DWM → DWS → serving chain as eight
  * streaming queries over file sources that run.py's generator fills
  * (each landing is a directory renamed into `ods/<kind>/`):
  *
  *  - DWD: `routeLogs` over the event files, written by `servingSink`
  *    (the transactional parquet sink) partitioned by route;
  *  - DWM: `uniqueVisits`, `userJumps` and the `intervalJoin` of views
  *    and purchases, all reading the DWD page route; the interval join
  *    is the serving table (`servingSink`);
  *  - DWS: `visitorStats` (DWD page route), `productStats` (lineitem
  *    files) and `provinceStats` (order files), each folded into a keyed
  *    snapshot with `Sinks.upsert` in update mode;
  *  - `dimEnrichSink`: the order files enriched against a customer dim
  *    store that `Sinks.upsert` wrote at set-up.
  *
  * Commands on stdin: `DRAIN` (process everything landed so far, print
  * `IDLE`) and `STOP` (drain, then stop every query).
  */
object StreamRun {
  import Harness._

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("rev", DoubleType), StructField("ts", TimestampType)))
  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("ts", TimestampType)))

  final class ProgressLog extends StreamingQueryListener {
    val names = mutable.Map[java.util.UUID, String]()
    val events = mutable.ArrayBuffer[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      events += Map(
        "query" -> names.getOrElse(p.id, p.id.toString), "batch" -> p.batchId,
        "timestamp" -> p.timestamp, "rows" -> p.numInputRows,
        "processed_rps" -> p.processedRowsPerSecond,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state" -> p.stateOperators.map(s => Map("rows" -> s.numRowsTotal,
          "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs)).toSeq,
        "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
        "max_event_time" -> Option(p.eventTime.get("max")).getOrElse(""))
    }
  }

  private def upsertInto(path: String, keys: Seq[String]) =
    (batch: DataFrame, batchId: Long) =>
      Sinks.upsert(batch.withColumn("_v", lit(batchId)), path, keys, "_v")

  def run(p: java.util.Properties): Map[String, Any] = {
    val work = p.getProperty("work")
    val ods = p.getProperty("ods")
    val data = p.getProperty("data")
    val trace = p.getProperty("trace") == "1"
    val out = s"$work/out"
    def ck(q: String) = s"$work/ck/$q"
    say("ORACLE")

    val spark = session(p)
    import spark.implicits._
    // no extra micro-batch just to advance a watermark: every result the
    // benchmark checks is complete without one (update-mode folds and an
    // inner join), and the empty batches would double the batch count
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val rec = if (trace) Some(new Recorder) else None
    val progress = if (trace) Some(new ProgressLog) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    progress.foreach(spark.streams.addListener)

    val buildMs = mutable.LinkedHashMap[String, Double]()
    def built[T](name: String)(f: => T): T = {
      val t0 = now()
      val r = f
      buildMs(name) = now() - t0
      r
    }

    // dim store for the enrichment sink, written once by Sinks.upsert
    val dimPath = s"$out/dim_customer"
    Sinks.upsert(Tables.customer(spark, data)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .withColumn("_v", lit(0L)), dimPath, Seq("c_custkey"), "_v")

    val events = spark.readStream.schema(EventSchema).json(s"$ods/events/*")
      .withColumn("ts_us", unix_micros(col("ts")))
    val orders = spark.readStream.schema(OrderSchema).json(s"$ods/orders/*")
    val lines = spark.readStream.schema(LineSchema).json(s"$ods/lineitem/*")

    val routed = built("dwd")(Streams.routeLogs(events))
    val queries = new mutable.LinkedHashMap[String, StreamingQuery]() {
      override def update(name: String, q: StreamingQuery): Unit = {
        progress.foreach(pl => pl.synchronized(pl.names(q.id) = name))
        super.update(name, q)
      }
    }
    // the file sink creates its metadata log when it starts, so the DWD
    // readers below only ever list committed DWD files
    queries("dwd") = Sinks.servingSink(routed, s"$out/dwd", ck("dwd"), "route")

    def page() = spark.readStream.schema(routed.schema).parquet(s"$out/dwd")
      .where(col("route") === "page")
    def logEvents() = page()
      .select("event_id", "user_id", "event_type", "ts", "ts_us", "value", "props")
      .as[LogEvent]
    def fileSink(df: DataFrame, name: String) =
      df.writeStream.format("parquet").option("path", s"$out/$name")
        .option("checkpointLocation", ck(name)).start()
    def upsertSink(df: DataFrame, name: String, keys: Seq[String]) =
      df.writeStream.outputMode("update").option("checkpointLocation", ck(name))
        .foreachBatch(upsertInto(s"$out/$name", keys)).start()

    queries("dwm_uv") = fileSink(built("dwm_uv")(Streams.uniqueVisits(logEvents()).toDF()), "dwm_uv")
    queries("dwm_jump") = fileSink(built("dwm_jump")(Streams.userJumps(logEvents()).toDF()), "dwm_jump")
    val wide = built("serving_wide")(Streams.intervalJoin(
      page().where(col("event_type") === "view"),
      page().where(col("event_type") === "purchase"))
      .withColumn("bucket", pmod(col("user_id"), lit(4L))))
    queries("serving_wide") = Sinks.servingSink(wide, s"$out/serving_wide", ck("serving_wide"), "bucket")
    queries("dws_visitor") = upsertSink(built("dws_visitor")(Streams.visitorStats(page())),
      "dws_visitor", Seq("window_start", "event_type"))
    queries("dws_product") = upsertSink(
      built("dws_product")(Streams.productStats(lines, Tables.part(spark, data))),
      "dws_product", Seq("window_start", "l_partkey", "p_brand"))
    queries("dws_province") = upsertSink(
      built("dws_province")(Streams.provinceStats(orders, Tables.customer(spark, data),
        Tables.nation(spark, data))),
      "dws_province", Seq("window_start", "n_name"))
    queries("dim_enrich") = built("dim_enrich")(Streams.dimEnrichSink(orders, dimPath,
      s"$out/dim_enrich", ck("dim_enrich"), "o_custkey", "c_custkey")).start()

    def drain(): Unit = queries.values.foreach(_.processAllAvailable())
    drain()
    // the listeners saw the set-up and the warm-up drain; the traced
    // figures cover the backlog and nominal phases only
    rec.foreach { r => BusDrain(spark.sparkContext); r.take() }
    progress.foreach(pl => pl.synchronized(pl.events.clear()))
    val readyMs = epochMs()
    say("READY")

    var line = readLine()
    while (line != null && line.trim != "STOP") {
      if (line.trim == "DRAIN") { drain(); say("IDLE") }
      line = readLine()
    }
    drain()
    val drainedMs = epochMs()
    queries.values.foreach(_.stop())
    val failed = queries.collect { case (n, q) if q.exception.isDefined =>
      n -> q.exception.get.toString }
    val traced = rec.map { r =>
      BusDrain(spark.sparkContext)
      val (counters, jobs, _) = r.take()
      Map("layers" -> (counters ++ buildMs.map { case (k, v) => s"build.$k" -> v }),
        "jobs" -> jobs.map { case (a, b) => Seq(a, b) },
        "progress" -> progress.map(_.synchronized(progress.get.events.toList)).getOrElse(Nil))
    }.getOrElse(Map.empty)
    Map("ready_ms" -> readyMs, "drained_ms" -> drainedMs, "errors" -> failed.toMap) ++ traced
  }
}
