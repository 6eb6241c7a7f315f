package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.etl.Transform
import graft.ext.{Dedup, Graph}
import graft.sources.Fetch
import graft.streaming.MicroBatch

object Fs {
  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }
  def bytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum
  }
  def readJson(p: String): JsonNode = new ObjectMapper().readTree(new File(p))
}

/** Catalog results kept for the oracle check: the first result of each
  * query is written to `<work>/results/<name>.jsonl` (one JSON array per
  * row) with the query's DuckDB oracle SQL in `oracle.json`; every later
  * result of the same query must equal the first. */
final class ResultLog(work: String) {
  private val first = mutable.Map.empty[String, Array[Row]]
  private val dir = Paths.get(work, "results")

  def oracles(names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle.json"), Json.obj(names.distinct.map { n =>
      n -> Json.str(SparkEntry.oracleSql(n))
    }))
  }

  def same(name: String, rows: Array[Row]): Boolean = first.get(name) match {
    case Some(r0) => r0.sameElements(rows)
    case None =>
      first(name) = rows
      Files.write(dir.resolve(s"$name.jsonl"), rows.map(Json.row).toSeq.asJava)
      true
  }
}

/** The reference DAG as one micro-batch per operation, in
  * `MicroBatch.writer`'s order: parse the landing files of every base,
  * drop null rates and align the schema, persist, append the history
  * partition, MERGE the current snapshot through `AtomicSwap`, then read
  * the email-summary scalars back from the history.
  *
  * The generated stream of `batches` batches is replayed from an empty
  * warehouse, so every pass over it does the same work. Every
  * `crash_every`-th batch finds an uncommitted `current_rates__staging`
  * directory (no `_SUCCESS`), as a crash inside the swap leaves it. */
final class Ingest(data: String, work: String) extends Workload {
  private val truth = Fs.readJson(s"$data/truth.json")
  private val bases = truth.get("bases").elements.asScala.map(_.asText).toVector
  private val batches = truth.get("batch")
  private val n = batches.size
  private val crashEvery = truth.get("crash_every").asInt
  private val Seq(pairBase, pairTarget) =
    truth.get("pair").elements.asScala.map(_.asText).toSeq
  private val keys = Seq("base_currency", "target_currency")
  private val schema: Seq[(String, DataType)] = Seq(
    "base_currency" -> StringType, "target_currency" -> StringType,
    "rate" -> DoubleType, "timestamp" -> TimestampType,
    "retrieved_at" -> TimestampType)
  private val wh = s"$work/wh"
  private var summary: Option[Seq[Double]] = None
  private val storedPerRow = mutable.ArrayBuffer.empty[Double]

  private def hist(root: String) = s"$root/historical_rates"
  private def cur(root: String) = s"$root/current_rates"
  private def idx(i: Int) = (i - 1) % n
  private def b(j: Int) = batches.get(j)
  // after each planted crash and at the end of each replay
  private def checked(j: Int) = j == n - 1 || (j > 0 && j % crashEvery == 0)

  private def runBatch(spark: SparkSession, tr: Trace, root: String, j: Int): Long = {
    val now = timestamp_seconds(lit(b(j).get("retrieved_at").asLong))
    val parsed = tr.span("sources.parseLive") {
      bases.map { base =>
        Fetch.parseLive(spark.read.text(f"$data/landing/b$j%04d/$base.json"),
          "value", base, None, now)
      }.reduce(_ unionByName _)
    }
    val batch = tr.span("etl.transform") {
      Transform.alignSchema(Transform.dropNullOn(parsed, "rate"), schema)
    }
    batch.persist() // two sinks read the same micro-batch once
    try {
      tr.span("streaming.appendHistoricalBatch") {
        MicroBatch.appendHistoricalBatch(batch, hist(root), j)
      }
      if (tr.enabled) {
        val parts = new File(s"${hist(root)}/batch_id=$j")
          .listFiles().count(_.getName.startsWith("part-"))
        tr.note("streaming.appendHistoricalBatch", "output_files", parts)
      }
      tr.span("streaming.upsertParquet") {
        MicroBatch.upsertParquet(spark, batch, cur(root), keys, "timestamp", "rate")
      }
      tr.note("streaming.upsertParquet", "changed_rows", b(j).get("changed").asDouble)
    } finally batch.unpersist()
    summary = tr.span("queries.summary")(readSummary(spark, hist(root)))
    tr.note("queries.summary", "result_rows", 2)
    b(j).get("accepted").asLong
  }

  /** Latest rate of the summary pair, the earliest rate in the 24 hours
    * up to it, and the percent change between them, as the reference's
    * notify step queries them from `historical_rates`. */
  private def readSummary(spark: SparkSession, path: String): Option[Seq[Double]] = {
    val h = spark.read.parquet(path)
      .filter(col("base_currency") === pairBase && col("target_currency") === pairTarget)
    h.orderBy(col("timestamp").desc, col("rate").desc).limit(1)
      .select("rate", "timestamp").collect().headOption.map { r =>
        val latest = r.getDouble(0)
        val from = new Timestamp(r.getTimestamp(1).getTime - 86400000L)
        val earliest = h.filter(col("timestamp") >= lit(from))
          .orderBy(col("timestamp").asc, col("rate").asc).limit(1)
          .select("rate").collect().head.getDouble(0)
        val pct = if (earliest != 0) (latest - earliest) / earliest * 100 else 0.0
        Seq(latest, earliest, pct)
      }
  }

  def warmUp(spark: SparkSession): Unit = {
    val root = s"$work/wh-warm"
    Fs.delete(root)
    (0 until 2).foreach(j => runBatch(spark, NoTrace, root, j))
    Fs.delete(root)
  }

  override def before(spark: SparkSession, i: Int): Unit = {
    val j = idx(i)
    if (j == 0) Fs.delete(wh)
    else if (j % crashEvery == 0) {
      val stg = Paths.get(cur(wh) + "__staging")
      Files.createDirectories(stg)
      Files.write(stg.resolve("part-00000-interrupted.snappy.parquet"),
        Array.fill[Byte](64)(7))
    }
  }

  def round: Int = n

  def op(spark: SparkSession, tr: Trace, i: Int): Long =
    runBatch(spark, tr, wh, idx(i))

  private def rowsOf(node: JsonNode): Set[(String, String, Double, Long)] =
    node.elements.asScala.map { r =>
      (r.get(0).asText, r.get(1).asText, r.get(2).asDouble, r.get(3).asLong)
    }.toSet

  /** The stored snapshot equals the generator's newest accepted row per
    * key, no late row reached it, and the history holds every accepted
    * row. */
  private def checkTables(spark: SparkSession, j: Int): Boolean = {
    val current = spark.read.parquet(cur(wh))
      .select(col("base_currency"), col("target_currency"), col("rate"),
        unix_seconds(col("timestamp")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val want = rowsOf(b(j).get("current"))
    val late = rowsOf(b(j).get("late"))
    val ok = current.length == want.size && current.toSet == want &&
      !current.exists(late) &&
      spark.read.parquet(hist(wh)).count() == b(j).get("history_rows").asLong
    if (!ok) System.err.println(s"ingest batch $j: warehouse differs from the generator's truth")
    ok
  }

  def check(spark: SparkSession, i: Int): Boolean = {
    val j = idx(i)
    val want = Option(b(j).get("summary")).filterNot(_.isNull)
      .map(_.elements.asScala.map(_.asDouble).toSeq)
    val summaryOk = (summary, want) match {
      case (Some(got), Some(w)) =>
        got.zip(w).forall { case (g, e) => math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e)) }
      case (None, None) => true
      case _ => false
    }
    if (!summaryOk) System.err.println(s"ingest batch $j: summary $summary, want $want")
    if (j == n - 1) // the end of a replay: bytes at rest per accepted row
      storedPerRow += Fs.bytes(wh).toDouble / b(j).get("history_rows").asDouble
    summaryOk && (!checked(j) || checkTables(spark, j))
  }

  def figures: Map[String, Double] = Map(
    "stored_bytes_per_row" -> storedPerRow.sorted.apply(storedPerRow.length / 2))
}

/** One interactive read per operation, in the generated order over the
  * reference's dashboard read set, built and collected through
  * `SparkEntry.queries`. */
final class Dashboard(data: String, work: String) extends Workload {
  private val order = Fs.readJson(s"$data/order.json").elements.asScala.map(_.asText).toVector
  private val tables = s"$data/tables"
  private val log = new ResultLog(work)
  log.oracles(order)
  private var last: (String, Array[Row]) = ("", Array.empty)
  private var stored = 0.0

  /** Every query of the read set once, one at a time. */
  def warmUp(spark: SparkSession): Unit = {
    // bytes at rest per input row of the tables the read set scans
    val ts = Seq("orders", "lineitem", "events")
    stored = ts.map(t => Fs.bytes(s"$tables/$t.parquet")).sum.toDouble /
      ts.map(t => Tables.statsRowCount(spark, tables, t)).sum
    order.distinct.foreach(q => SparkEntry.queries(q)(spark, tables).collect())
  }

  def op(spark: SparkSession, tr: Trace, i: Int): Long = {
    val q = order((i - 1) % order.length)
    val df = tr.span("queries.build")(SparkEntry.queries(q)(spark, tables))
    val rows = tr.span("queries.exec")(df.collect())
    tr.note("queries.exec", "result_rows", rows.length)
    last = (q, rows)
    rows.length
  }

  def round: Int = order.distinct.length

  def check(spark: SparkSession, i: Int): Boolean = log.same(last._1, last._2)

  def figures: Map[String, Double] = Map("stored_bytes_per_row" -> stored)
}

/** One pass of the LLM-data path per operation: the gram blocker and
  * connected components called directly, as `dedup_cluster_cc` composes
  * them, then `corpus_curation_e2e` through `SparkEntry.queries`. */
final class Corpus(data: String, work: String) extends Workload {
  private val tables = s"$data/tables"
  private val log = new ResultLog(work)
  log.oracles(Seq("dedup_cluster_cc", "corpus_curation_e2e"))
  private var docs = 0L
  private var last: (Array[Row], Array[Row]) = (Array.empty, Array.empty)

  private def pass(spark: SparkSession, tr: Trace): (Array[Row], Array[Row]) = {
    val edges = tr.span("ext.Dedup.sharedGramPairs") {
      Dedup.sharedGramPairs(Tables.documents(spark, tables), "doc_id", "text",
        n = 13, maxDf = 50)
    }
    // the components' rows are collected inside the span: the pair
    // expansion the blocker planned lazily runs in these jobs
    val cc = tr.span("ext.Graph.connectedComponents") {
      Graph.connectedComponents(edges, "src", "dst")
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("component"))))
        .orderBy(col("doc_id"))
        .collect()
    }
    val df = tr.span("queries.build") {
      SparkEntry.queries("corpus_curation_e2e")(spark, tables)
    }
    val curated = tr.span("queries.exec")(df.collect())
    tr.note("queries.exec", "result_rows", curated.length)
    (cc, curated)
  }

  def warmUp(spark: SparkSession): Unit = {
    docs = Tables.statsRowCount(spark, tables, "documents")
    pass(spark, NoTrace)
  }

  def round: Int = 1

  def op(spark: SparkSession, tr: Trace, i: Int): Long = {
    last = pass(spark, tr)
    docs
  }

  def check(spark: SparkSession, i: Int): Boolean =
    log.same("dedup_cluster_cc", last._1) & log.same("corpus_curation_e2e", last._2)

  def figures: Map[String, Double] = Map("docs" -> docs.toDouble,
    "stored_bytes_per_row" -> Fs.bytes(s"$tables/documents.parquet").toDouble / docs)
}
