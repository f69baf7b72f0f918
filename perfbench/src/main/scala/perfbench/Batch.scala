package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** One declared query of an operator family. */
final case class BatchOp(name: String, family: String,
                         fn: (SparkSession, String) => DataFrame)

/** The read-path workload: the selected queries of every operator family,
  * each run to a noop sink so every output column is computed. */
final class Batch(data: String, tracer: Tracer) extends Workload {
  import Batch._

  val ops: Seq[BatchOp] = all.filter(o => Selected(o.name))

  def tables: Seq[String] = graft.Tables.names

  def opCount: Int = ops.size
  def nominalPassS: Double = 5.0

  /** One timed execution of `op`, to a noop sink; returns wall seconds. */
  private def exec(spark: SparkSession, op: BatchOp): Double = {
    val t0 = System.nanoTime()
    val df = tracer(s"operators.${op.family}.construct")(op.fn(spark, data))
    tracer(s"operators.${op.family}.execute")(
      df.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }

  /** Set-up warm-up: the first execution of every query, to the noop sink
    * as in the timed passes, which builds its warm state and generates its
    * code. */
  def warm(spark: SparkSession): Seq[OpResult] = ops.map { op =>
    try OpResult(op.name, exec(spark, op), None)
    catch { case e: Throwable => OpResult(op.name, Double.NaN, Some(s"warm-up run failed: $e")) }
  }

  /** After the timed passes, one more execution of every query, on the
    * same warm state, writes its output under `checkDir` with the DuckDB
    * SQL of every query, for the oracle check the launcher runs after this
    * process exits. */
  def check(spark: SparkSession, checkDir: String): Seq[(String, String)] = {
    val fails = ops.flatMap { op =>
      try { op.fn(spark, data).write.mode("overwrite").parquet(s"$checkDir/${op.name}"); None }
      catch { case e: Throwable => Some(op.name -> s"check run failed: $e") }
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"), Json(sql))
    fails
  }

  def pass(spark: SparkSession, order: scala.util.Random): Seq[OpResult] =
    order.shuffle(ops).map { op =>
      tracer.op = all.indexWhere(_.name == op.name)
      val r = tracer("op") {
        try OpResult(op.name, exec(spark, op), None)
        catch { case e: Throwable => OpResult(op.name, Double.NaN, Some(e.toString)) }
      }
      tracer.op = -1
      r
    }
}

object Batch {
  /** The queries the batch workload runs. A run is one JVM that pays a
    * cold warm-up per query, its timed passes, one check execution per
    * query and the DuckDB oracle check; at sf0.1 all 129 queries do not
    * fit the benchmark's time budget (22 runs per workload, all within one
    * hour). Each family keeps a query that exercises its distinct
    * mechanisms, including the input-size-gated branches that sf0.1
    * takes (the CPU-dense spread of lineitem, documents and media):
    *  - relational: lineitem scan + aggregate over the dense spread (q01),
    *    window top-k with an exchange (q08);
    *  - events: sessionize (q41), the multi-job funnel (q77);
    *  - text: PII regex scrub over the dense documents spread (q36);
    *  - dedup: MinHash LSH (q51);
    *  - similarity: the 18-job ANN recall chain (q67);
    *  - multimodal: LSH recall over the dense media spread (q126);
    *  - sampling: weighted sample (q80);
    *  - corpus: novelty over the WarmState first-seen frame (q115). */
  val Selected: Set[String] = Set(
    "q01_pricing_summary", "q08_window_topk_per_group", "q41_sessionize",
    "q77_funnel", "q36_pii_scrub", "q51_minhash_lsh", "q67_ann_recall",
    "q126_media_lsh_recall", "q80_weighted_sample", "q115_incremental_novelty")

  /** Every declared query, tagged with the family (module) declaring it. */
  val all: Seq[BatchOp] = Seq(
    "relational" -> Relational.queries, "events" -> EventOps.queries,
    "text" -> TextOps.queries, "dedup" -> DedupOps.queries,
    "similarity" -> SimilarityOps.queries, "multimodal" -> MultimodalOps.queries,
    "sampling" -> SamplingOps.queries, "corpus" -> CorpusOps.queries,
  ).flatMap { case (fam, qs) => qs.toSeq.map { case (n, f) => BatchOp(n, fam, f) } }
    .sortBy(_.name)
}
