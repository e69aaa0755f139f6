package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM side of the benchmark. run.py starts it with one properties
  * file and drives it over stdin/stdout:
  *
  *  1. writes the oracle SQL of the workload's queries to `oracle`, then
  *     prints `ORACLE`;
  *  2. builds the SparkSession and warms up (batch workloads: one
  *     untimed pass of the mix), then prints `READY`
  *     and waits for a `GO` line (run.py computes the expected results
  *     meanwhile, so the timed region never overlaps them);
  *  3. runs the timed region and writes every sample to `out`, then
  *     prints `DONE`.
  *
  * Only public entry points of the engine are called: `SparkEntry`,
  * `Tables`, `graft.streaming.Streams` and `graft.sinks.Sinks`. The
  * listeners in [[Recorder]] are registered only when `trace=1`.
  */
object Harness {
  private val in = new BufferedReader(new InputStreamReader(System.in))

  def say(line: String): Unit = { System.out.println(line); System.out.flush() }

  def readLine(): String = in.readLine()

  def await(word: String): Unit = {
    var l = in.readLine()
    while (l != null && l.trim != word) l = in.readLine()
    if (l == null) sys.exit(3)
  }

  def now(): Double = System.nanoTime() / 1e6

  def epochMs(): Double = System.currentTimeMillis().toDouble

  def session(p: java.util.Properties): SparkSession = {
    val work = p.getProperty("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep one source/sink log file per micro-batch, so run.py can map
      // every input file to the batch that read it
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
      .config("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val f = new java.io.FileInputStream(args(0))
    try p.load(f) finally f.close()
    val result = p.getProperty("workload") match {
      case "dw_stream" => StreamRun.run(p)
      case _ => BatchRun.run(p)
    }
    val all = result + ("peak_rss_kb" -> peakRssKb())
    Files.writeString(Paths.get(p.getProperty("out")), Json(all))
    say("DONE")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** Closed-loop, one-client batch workload: the same query mix each pass,
  * in an order drawn from the seed. */
object BatchRun {
  import Harness._

  def run(p: java.util.Properties): Map[String, Any] = {
    val mix = p.getProperty("mix").split(",").toSeq
    val seed = p.getProperty("seed").toLong
    val passes = p.getProperty("passes").toInt
    val data = p.getProperty("data")
    val trace = p.getProperty("trace") == "1"
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(p.getProperty("oracle")),
      Json(mix.map(q => q -> oracle.get(q)).toMap))
    say("ORACLE")

    val spark = session(p)
    val rec = if (trace) Some(new Recorder) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

    def op(q: String, pass: Int): Map[String, Any] = {
      val fn = graft.SparkEntry.queries(q)
      val wallStart = epochMs()
      val t0 = now()
      try {
        val df: DataFrame = fn(spark, data)
        val t1 = now()
        val rows = df.collect()
        val t2 = now()
        val wallEnd = epochMs()
        val base = Map[String, Any]("q" -> q, "pass" -> pass, "start_ms" -> wallStart,
          "end_ms" -> wallEnd, "build_ms" -> (t1 - t0), "total_ms" -> (t2 - t0))
        val traced = rec.map { r =>
          BusDrain(spark.sparkContext)
          val (counters, jobs, spans) = r.take()
          Map("layers" -> (counters + ("operators.build_ms" -> (t1 - t0))),
            "jobs" -> jobs.map { case (a, b) => Seq(a, b) }, "spans" -> spans)
        }.getOrElse(Map.empty)
        val (n, digest) = Canon.digest(df.schema, rows)
        base ++ traced ++ Map("rows" -> n, "digest" -> digest, "ok" -> true)
      } catch {
        case e: Throwable =>
          rec.foreach { r => BusDrain(spark.sparkContext); r.take() }
          Map("q" -> q, "pass" -> pass, "start_ms" -> wallStart, "end_ms" -> epochMs(),
            "total_ms" -> (now() - t0), "ok" -> false, "error" -> String.valueOf(e))
      }
    }

    // warm-up: one untimed pass of the mix, so the timed passes measure
    // warm executions rather than first ones, which pay for JIT
    // compilation of the driver paths and for code generation
    val warmup = order(0).map(op(_, 0))
    // the listeners saw the warm-up too; start the timed region afresh
    rec.foreach { r => BusDrain(spark.sparkContext); r.take() }
    say("READY")
    await("GO")
    val timed = (1 to passes).flatMap(pass => order(pass).map(op(_, pass)))
    Map("warmup" -> warmup, "ops" -> timed)
  }
}
