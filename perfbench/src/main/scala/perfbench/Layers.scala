package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics every workload reports under the same names
  * (the runner's traced contract line: Spark scheduling per op and pinned
  * storage), plus the tracer's own span count.
  */
object Layers {
  def sched(rep: Report, ops: Seq[Tracer.OpStats], wallMs: Double): Unit = {
    val per = Tracer.perOp(ops) _
    rep.put("sched.jobs_per_op", per(_.jobs.get), "count")
    rep.put("sched.stages_per_op", per(_.stages.get), "count")
    rep.put("sched.tasks_per_op", per(_.tasks.get), "count")
    rep.put("sched.shuffle_bytes_per_op", per(_.shuffleBytes.get), "bytes")
    rep.put("sched.input_rows_per_op", per(_.inputRows.get), "count")
    val run = ops.map(_.taskRunMs.get.toDouble).sum
    rep.put("sched.core_util", if (wallMs <= 0) 0.0 else run / (wallMs * Engine.cores), "ratio")
    contract(rep, "sched.jobs_per_op", "sched.stages_per_op", "sched.tasks_per_op",
      "sched.shuffle_bytes_per_op", "sched.input_rows_per_op", "sched.core_util")
  }

  /** Pinned RDDs and the storage memory they use: the larger of what a
    * workload sampled during its run (`peakCount`, `peakMb`) and now.
    */
  def pins(spark: SparkSession, rep: Report, peakCount: Int, peakMb: Double): Unit = {
    val (n, mb) = Engine.pins(spark)
    rep.put("pins.count", math.max(n, peakCount), "count")
    rep.put("pins.peak_mb", math.max(mb, peakMb), "MB")
    contract(rep, "pins.count", "pins.peak_mb")
  }

  def trace(tr: Tracer, rep: Report): Unit = rep.put("trace.spans", tr.spanCount, "count")

  private def contract(rep: Report, names: String*): Unit =
    names.foreach(n => rep.contract(n) = rep.named(n))
}
