package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: an operation the closed loop repeats, and the checks
  * of its outputs, which run outside the timed region. */
trait Workload {
  /** Untimed warm-up on a fresh session: JIT, codegen and file caches. */
  def warmUp(spark: SparkSession): Unit
  /** Untimed preparation of operation `i` (resets, planted faults). */
  def before(spark: SparkSession, i: Int): Unit = ()
  /** Operation `i` (from 1); returns the rows it counts towards
    * `rows_per_s`. */
  def op(spark: SparkSession, tr: Trace, i: Int): Long
  /** Whether the outputs of operation `i` are correct. */
  def check(spark: SparkSession, i: Int): Boolean
  /** Operations in one round: the timed phase runs whole rounds, so
    * every run times the same mix of operations. */
  def round: Int
  /** Workload figures beyond latency (bytes stored per row, doc count). */
  def figures: Map[String, Double]
}

/** Heap occupancy after a full collection. */
object HeapWatch {
  private val memory = ManagementFactory.getMemoryMXBean

  /** Collect fully now and return the heap still in use, in MiB. */
  def liveMb(): Double = {
    System.gc()
    memory.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Runs one workload for a fixed time and writes the raw measurements as
  * one JSON object to `--out`.
  *
  * Usage: perfbench.Main --workload ingest|dashboard|corpus --data DIR
  *   --out FILE --seconds N --trace 0|1 --cores N */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // the status store keeps up to 1000 jobs and queries by default, so
      // the live heap would grow with the number of operations a run did
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = s"$data/run"
    val w: Workload = opt("workload") match {
      case "ingest"    => new Ingest(data, work)
      case "dashboard" => new Dashboard(data, work)
      case "corpus"    => new Corpus(data, work)
    }

    // Set-up, repeated: session start plus the untimed warm-up, each
    // time on a fresh session; the last session runs the timed phase.
    val startS, setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, s"$work/spark-local")
      val t1 = System.nanoTime()
      w.warmUp(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      startS += (t1 - t0) / 1e9
    }

    val (tr, listener) =
      if (traced) {
        val l = new WorkListener
        spark.sparkContext.addSparkListener(l)
        (new Tracer(spark.sparkContext), Some(l))
      } else (NoTrace, None)

    // Timed phase: a closed loop from this one client thread, in whole
    // rounds, starting rounds until the operations have taken `seconds`.
    // After each operation, untimed and while its outputs are still held,
    // a full collection measures the heap it leaves in use.
    var peakMb = 0.0
    val lat = mutable.ArrayBuffer.empty[Double]
    val failedOps = mutable.Set.empty[Int]
    var rows = 0L
    var i = 0
    while (i % w.round != 0 || lat.sum < seconds) {
      i += 1
      w.before(spark, i)
      tr.op = i
      val t0 = System.nanoTime()
      val r =
        try Right(tr.span("bench.op")(w.op(spark, tr, i)))
        catch { case e: Exception => Left(e) }
      lat += (System.nanoTime() - t0) / 1e9
      tr.op = 0
      peakMb = math.max(peakMb, HeapWatch.liveMb())
      r match {
        case Right(n) if w.check(spark, i) => rows += n
        case Right(_) =>
          System.err.println(s"op $i: output check failed")
          failedOps += i
        case Left(e) =>
          System.err.println(s"op $i failed: $e")
          failedOps += i
      }
    }

    val spans = (tr, listener) match {
      case (t: Tracer, Some(l)) =>
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        SpanStats.summarize(t, l, cores)
      case _ => Map.empty[String, Map[String, Double]]
    }
    spark.stop()

    val out = Json.obj(Seq(
      "attempted" -> Json.num(i),
      "failed_ops" -> Json.arr(failedOps.toSeq.sorted.map(Json.num(_))),
      "latencies_s" -> Json.arr(lat.map(Json.num)),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "session_start_s" -> Json.arr(startS.map(Json.num)),
      "rows" -> Json.num(rows),
      "peak_heap_mb" -> Json.num(peakMb),
      "figures" -> Json.obj(w.figures.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.obj(spans.toSeq.map { case (k, m) =>
        k -> Json.obj(m.toSeq.map { case (c, v) => c -> Json.num(v) })
      })))
    Files.writeString(Paths.get(opt("out")), out)
    System.exit(0)
  }
}

/** Just enough JSON writing for the measurement file and result dumps. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** A collected value of the checked queries: numbers as numbers,
    * anything else (strings, formatted timestamps) as its string. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.lang.Double => num(n.doubleValue)
    case n: Number => n.toString
    case o => str(o.toString)
  }
  def row(r: org.apache.spark.sql.Row): String = arr(r.toSeq.map(value))
}
