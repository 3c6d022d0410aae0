package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.SparkEntry

/** A pass over a fixed list of `SparkEntry.queries` gates on one input
  * directory. The cold pass (set-up) writes each gate's output as parquet
  * for the DuckDB oracle check and records the fingerprint of what it wrote;
  * warm-up passes follow, and every pass must reproduce that fingerprint.
  * In a traced unit each gate's engine counters are taken on their own, so
  * task time and driver gap read per gate. */
final class GateWorkload(spark: SparkSession, spans: Spans, gates: Seq[String],
                         dir: String, verifyDir: String,
                         engine: () => Option[EngineTrace]) extends Workload {
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private val cold = mutable.ArrayBuffer.empty[Op]
  private val queries = SparkEntry.queries

  require(gates.forall(queries.contains),
    s"unknown gates: ${gates.filterNot(queries.contains).mkString(", ")}")

  def setupOps: Seq[Op] = cold.toSeq

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(verifyDir))
    gates.foreach { g =>
      val s = System.nanoTime()
      try {
        queries(g)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$g")
        expected(g) = GateWorkload.fingerprint(spark.read.parquet(s"$verifyDir/$g"))
        cold += Op(g, System.nanoTime() - s, ok = true)
      } catch {
        case e: Exception => cold += Op(g, System.nanoTime() - s, ok = false, s"cold pass: $e")
      } finally Workload.clearCaches(spark)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => gates.contains(k) }
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), Json.obj(
      oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    val coldS = (System.nanoTime() - t0) / 1e9
    // JIT compilation keeps speeding passes up for about ten passes after
    // the cold one; timed passes start after that
    val t1 = System.nanoTime()
    (0 until GateWorkload.WarmupPasses).foreach(_ => cold ++= unit())
    Seq("setup.cold_pass_s" -> coldS, "setup.warmup_s" -> (System.nanoTime() - t1) / 1e9)
  }

  def unit(): Seq[Op] = gates.map { g =>
    val t0 = System.nanoTime()
    val op = try {
      val df = spans("queries.construct")(queries(g)(spark, dir))
      val fp = spans("queries.action")(GateWorkload.fingerprint(df))
      val ok = expected.get(g).contains(fp)
      Op(g, System.nanoTime() - t0, ok,
        if (ok) "" else s"fingerprint $fp, cold pass wrote ${expected.get(g)}")
    } catch {
      case e: Exception => Op(g, System.nanoTime() - t0, ok = false, e.toString)
    } finally Workload.clearCaches(spark)
    op.copy(engine = engine().map(_.take()))
  }
}

object GateWorkload {
  val WarmupPasses = 8

  /** Order-insensitive content fingerprint: row count plus the bit_xor of an
    * xxhash64 over every column. The aggregate reads every value, so no
    * projection can be dead-code-eliminated out of the timed action. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val r = df.select(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
