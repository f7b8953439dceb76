package perfbench

import org.apache.spark.sql.SparkSession

/** What one measuring phase produced: the workload's timed operations,
  * the open-loop API reads, and the number of complete passes.
  */
final case class Phase(ops: Seq[Op], gets: Seq[Op], passes: Int, wallS: Double)

trait Workload {
  def name: String
  /** Inputs, catalog and API server. */
  def prepare(spark: SparkSession): Unit
  /** Run the workload's operations on the small inputs; returns errors. */
  def warmUp(): Seq[String]
  def measure(seconds: Double, tracer: Option[Tracer], firstId: Long): Phase
  /** Per-layer metrics of a traced phase. */
  def layers(phase: Phase, tracer: Tracer, cores: Int): Map[String, Double]
  /** Workload-specific parts of the run record. */
  def record: Map[String, Any]
  def close(): Unit
}

object Layers {
  def spark(ps: Seq[OpProfile], cores: Int): Map[String, Double] = Map(
    "spark.scan_s" -> Trace.mean(ps.map(_.scanS)),
    "spark.scan_bytes" -> Trace.mean(ps.map(_.scanBytes)),
    "spark.exchange_s" -> Trace.mean(ps.map(_.exchangeS)),
    "spark.shuffle_bytes" -> Trace.mean(ps.map(_.shuffleBytes)),
    "spark.cpu_share" ->
      (if (ps.isEmpty) 0.0 else ps.map(_.cpuS).sum / (ps.map(_.wallS).sum * cores)))

  def queries(ps: Seq[OpProfile]): Map[String, Double] = Map(
    "queries.plan_s" -> Trace.median(ps.map(_.planS)),
    "queries.jobs" -> Trace.mean(ps.map(_.jobs.toDouble)),
    "queries.tasks" -> Trace.mean(ps.map(_.tasks.toDouble)),
    "queries.driver_gap_s" -> Trace.median(ps.map(_.driverGapS)))

  /** (leaked blocks, jobs still active) after each operation. */
  def residue(rs: Seq[(Int, Int)]): Map[String, Double] = Map(
    "residue.leaked_blocks" -> rs.map(_._1).sum.toDouble,
    "residue.active_jobs" -> rs.map(_._2).sum.toDouble)
}
