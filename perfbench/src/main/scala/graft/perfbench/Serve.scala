package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{AutoSkip, ParquetDirFormat, PartitionedTable}
import graft.operators.{Dedup, Similarity}
import graft.pipeline.{FilePipeline, Ledger}

/** Closed loop with one client over graft's serve paths: each request waits
  * for the previous reply, as a pipeline handling inbox events does. The
  * request stream (ops.json) and every input it names come from the seeded
  * generator; each reply is checked against the planted truth there (row
  * counts, dedup verdicts, exact top-k, lookup groups).
  *
  * State (the lake, the dedup and IVF indexes, the sidecar-indexed events
  * table) is built once during set-up, then a warm-up block runs; the
  * index and the ingest tables grow across the run. */
final class ServeWorkload(spark: SparkSession, spans: Spans, in: String, work: String,
                          engine: () => Option[EngineTrace]) extends Workload {
  import ServeWorkload._
  import spark.implicits._

  private val ops: IndexedSeq[JsonNode] =
    new ObjectMapper().readTree(Paths.get(s"$in/ops.json").toFile).get("ops")
      .elements().asScala.toIndexedSeq
  private var next = 0
  private val warm = mutable.ArrayBuffer.empty[Op]
  private val root = s"$work/state"
  private def lake = new ParquetDirFormat(s"$root/lake")
  private def ledger = new Ledger(s"$root/ledger.tsv")
  private def eventsRoot = s"$root/events"

  // module-level tallies
  private var recallHits, recallTotal = 0L
  private var scannedRecords, matchedRows = 0L
  private var ingestJobs, ingestFiles = 0L
  private var ingestedBytes = 0L

  def setupOps: Seq[Op] = warm.toSeq
  // seconds of each part of the state build (already inside its total)
  private var buildParts = Seq.empty[(String, Double)]

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    buildParts = buildState()
    val buildS = (System.nanoTime() - t0) / 1e9
    // one warm-up block runs each request path once before timing
    val t1 = System.nanoTime()
    warm ++= unit()
    Seq("setup.state_build_s" -> buildS, "setup.warmup_s" -> (System.nanoTime() - t1) / 1e9)
  }

  /** Builds the serve state under `root`; returns each part's seconds. */
  private def buildState(): Seq[(String, Double)] = {
    Files.createDirectories(Paths.get(root))
    def part(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      body
      s"setup.build_$name" -> (System.nanoTime() - t0) / 1e9
    }
    val parts = Seq(
      part("dedup_index_s") {
        lake.create(spark.read.parquet(s"$in/dedup_corpus.parquet"), CorpusTable)
        Dedup.buildDedupIndex(lake.read(spark, CorpusTable), lake)
      },
      part("ivf_index_s") {
        Similarity.buildIvfIndex(spark.read.parquet(s"$in/ann_corpus.parquet"), lake,
          nCentroids = IvfCells)
      },
      part("events_table_s") {
        val ev = spark.read.parquet(s"$in/lookup_events.parquet")
          .select("event_id", "user_id", "event_type", "value")
        new PartitionedTable(eventsRoot, Seq("event_type"))
          .create(ev.repartitionByRange(32, col("event_type"), col("value")), EventsTable)
        AutoSkip.index(spark, eventsRoot, EventsTable, Seq("value"), Seq("user_id"))
      })
    Workload.clearCaches(spark)
    parts
  }

  /** One block: the next four requests, one of each type. */
  def unit(): Seq[Op] = (0 until 4).map { _ =>
    val o = ops(next)
    next += 1
    val kind = o.get("op").asText()
    val t0 = System.nanoTime()
    val check = try {
      kind match {
        case "ingest_file" => ingest(o)
        case "dedup_admit" => dedupAdmit(o)
        case "ann_topk" => annTopK(o)
        case "lake_lookup" => lookup(o)
      }
    } catch { case e: Exception => () => Some(e.toString) }
    val lat = System.nanoTime() - t0
    Workload.clearCaches(spark)
    val problem = check()
    Op(kind, lat, problem.isEmpty, problem.getOrElse(""))
  }

  // Each request returns a check to run after its latency is taken.
  private type Check = () => Option[String]

  private def ingest(o: JsonNode): Check = {
    val file = o.get("file").asText()
    val table = "inbox_" + file.substring(file.lastIndexOf('.') + 1)
    val jobs0 = jobsNow()
    val r = spans("pipeline.process_file")(
      FilePipeline.processFile(spark, s"$in/inbox/$file", table, lake, ledger))
    jobs0.foreach { j => ingestJobs += jobsNow().get - j; ingestFiles += 1 }
    ingestedBytes += Files.size(Paths.get(s"$in/inbox/$file"))
    val again = Option(o.get("redeliver")).filterNot(_.isNull).map(_.asText())
    val skipped = again.map { f =>
      val t = "inbox_" + f.substring(f.lastIndexOf('.') + 1)
      f -> spans("pipeline.skip")(
        FilePipeline.processFile(spark, s"$in/inbox/$f", t, lake, ledger)).skipped
    }
    () => {
      val want = (o.get("loaded").asLong(), o.get("quarantined").asLong())
      val load = Option.when(r.skipped || (r.rows, r.quarantinedRows) != want)(
        s"$file loaded ${(r.rows, r.quarantinedRows)} skipped=${r.skipped}, planted $want")
      val skip = skipped.collect { case (f, false) => s"$f redelivery was not skipped" }
      (load ++ skip).reduceOption(_ + "; " + _)
    }
  }

  private def dedupAdmit(o: JsonNode): Check = {
    val ids = o.get("doc_ids").elements().asScala.map(_.asLong()).toSeq
    val texts = o.get("texts").elements().asScala.map(_.asText()).toSeq
    val planted = ids.zip(o.get("verdicts").elements().asScala.map(_.asText()).toSeq).toMap
    val batch = ids.zip(texts).toDF("doc_id", "text")
    val verdictDf = spans("dedup.incremental_construct")(
      Dedup.incrementalDedup(lake, lake.read(spark, CorpusTable), batch))
    val got = spans("dedup.incremental_action")(verdictDf.collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fresh = got.collect { case (id, "new") => id }.toSeq
    if (fresh.nonEmpty) spans("lake.append") {
      val admitted = batch.filter(col("doc_id").isin(fresh: _*))
      Dedup.appendDedupIndex(admitted, lake)
      lake.append(admitted, CorpusTable)
    }
    () => Option.when(got != planted)(
      s"dedup verdicts differ on ${planted.keys.filter(k => got.get(k) != planted.get(k)).toSeq.sorted}")
  }

  private def annTopK(o: JsonNode): Check = {
    val qs = o.get("queries").elements().asScala.map(_.elements().asScala.map(_.floatValue()).toArray).toIndexedSeq
    val qdf = spark.createDataFrame(
      qs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava, QuerySchema)
    val df = spans("ann.ivf_construct")(
      Similarity.queryIvfIndex(spark, lake, qdf, nQueries = qs.size, k = K, nProbe = NProbe))
    val rows = spans("ann.ivf_action")(df.select("query_id", "neighbor_id").collect())
      .map(r => (r.getLong(0), r.getLong(1)))
    () => {
      val byQ = rows.groupBy(_._1)
      val exact = o.get("exact_top_k").elements().asScala
        .map(_.elements().asScala.map(_.asLong()).toSet).toIndexedSeq
      qs.indices.foreach { i =>
        recallHits += byQ.getOrElse(i.toLong, Array.empty).count(p => exact(i)(p._2))
        recallTotal += K
      }
      Option.when(byQ.size != qs.size || byQ.values.exists(_.length != K))(
        s"ann returned ${byQ.map { case (q, v) => q -> v.length }} rows per query, want $K each")
    }
  }

  private def lookup(o: JsonNode): Check = {
    val types = o.get("event_types").elements().asScala.map(_.asText()).toSeq
    val users = o.get("user_ids").elements().asScala.map(_.asLong()).toSeq
    val (lo, hi) = (o.get("lo").asDouble(), o.get("hi").asDouble())
    val rec0 = recordsNow()
    val t = spans("lake.autoskip_open")(AutoSkip.read(spark, eventsRoot, EventsTable))
    val q = t.filter(col("event_type").isin(types: _*) && col("value") >= lo &&
        col("value") <= hi && col("user_id").isin(users: _*))
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_event_id"), max(col("event_id")).as("max_event_id"))
    val got = spans("lake.lookup_action")(q.collect())
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      .toMap
    rec0.foreach(r => scannedRecords += recordsNow().get - r)
    () => {
      val want = o.get("groups").elements().asScala.map { g =>
        (g.get(0).asText(), g.get(1).asLong()) ->
          (g.get(2).asLong(), g.get(3).asDouble(), g.get(4).asLong(), g.get(5).asLong())
      }.toMap
      if (rec0.isDefined) matchedRows += want.values.map(_._1).sum
      val same = got.keySet == want.keySet && want.forall { case (k, (n, s, mn, mx)) =>
        val (gn, gs, gmn, gmx) = got(k)
        gn == n && gmn == mn && gmx == mx && math.abs(gs - s) <= 1e-9 * math.max(1.0, math.abs(s))
      }
      Option.when(!same)(s"lookup $types/$lo..$hi: ${got.size} groups, planted ${want.size}")
    }
  }

  // running engine totals, read in traced units only
  private def jobsNow(): Option[Long] = engine().map { e => e.drain(); e.jobsTotal }
  private def recordsNow(): Option[Long] = engine().map { e => e.drain(); e.recordsReadTotal }

  override def runChecks(): Seq[String] = {
    val recall = recallHits.toDouble / math.max(1L, recallTotal)
    Seq(s"ann.recall_at_10 $recall below the IVF floor $RecallFloor")
      .filter(_ => recallTotal > 0 && recall < RecallFloor)
  }

  override def extra(): Seq[(String, Double, String)] = {
    val l = lake
    val tables = l.tables()
    val inboxBytes = tables.filter(_.startsWith("inbox_"))
      .map(t => treeBytes(Paths.get(s"$root/lake/$t"))).sum
    Seq(
      ("ann.recall_at_10", recallHits.toDouble / math.max(1L, recallTotal), "ratio"),
      ("lake.files_per_table", tables.map(t => l.dataFileStatuses(t).size).sum.toDouble /
        math.max(1, tables.size), "count"),
      ("lake.bytes_written_per_input_byte", inboxBytes.toDouble / math.max(1L, ingestedBytes), "ratio")) ++
      buildParts.map { case (k, v) => (k, v, "s") } ++
      // counted in traced units only
      (if (ingestFiles == 0) Seq.empty else Seq(
        ("lake.lookup_rows_scanned_per_row", scannedRecords.toDouble / math.max(1L, matchedRows), "ratio"),
        ("pipeline.jobs_per_file", ingestJobs.toDouble / ingestFiles, "count")))
  }
}

object ServeWorkload {
  val CorpusTable = "corpus_text"
  val EventsTable = "events_t"
  val IvfCells = 16
  val NProbe = 4
  val K = 10
  /** The IVF recall floor SimilaritySpec holds the index to. */
  val RecallFloor = 0.5
  val QuerySchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
