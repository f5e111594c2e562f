package graftbench

import graftbench.Stats._

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** End-to-end metrics, measured with tracing off. Every workload
  * reports all of them; see the README for what each means per
  * workload. */
object EndToEnd {

  def metrics(b: Bench, o: Outcome): Seq[Metric] = {
    val reads = b.rec.of(Sample.Read).map(_.latency)
    val writes = b.rec.of(Sample.Write).map(_.latency)
    val stored = o.collections.map(b.storedBytes).sum
    Seq(
      Metric("setup_s", median(o.setupS), "s"),
      Metric("read_p50_ms", hdQuantile(reads, 0.5), "ms"),
      Metric("read_mean_ms", mean(reads), "ms"),
      Metric("write_p50_ms", hdQuantile(writes, 0.5), "ms"),
      Metric("write_mean_ms", mean(writes), "ms"),
      Metric("ann_recall_at_10", o.recall, "ratio"),
      Metric("space_amp", stored.toDouble / o.userBytes, "ratio"))
  }
}

object Report {

  /** Block-manager storage held at the end of the run (cached blocks
    * and broadcasts), in MB. It moves with garbage collection, so it is
    * reported but not gated. */
  private def cachedMb(b: Bench): Double =
    b.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) java.lang.Double.toString(Double.MaxValue)
    else java.lang.Double.toString(v)

  def print(b: Bench, o: Outcome, metrics: Seq[Metric]): Unit = {
    val reads = b.rec.of(Sample.Read)
    val writes = b.rec.of(Sample.Write)
    println(s"workload ${b.args.workload} reads=${reads.length} writes=${writes.length} " +
      s"attempted=${b.rec.attempted} failed=${b.rec.failed}")
    supportedTail(reads.length).foreach { p =>
      println(f"read tail p$p%.1f = ${percentile(reads.map(_.latency), p)}%.1f ms " +
        s"(${reads.length} reads)")
    }
    b.rec.samples.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      println(f"op $op%-16s n=${xs.length}%4d p50=${median(xs.map(_.latency))}%9.1f ms " +
        f"mean=${mean(xs.map(_.latency))}%9.1f ms")
    }
    println("setup_s each " + o.setupS.map(s => f"$s%.2f").mkString(" "))
    println(f"cached_mb ${cachedMb(b)}%.2f")
    o.recalls.toSeq.sorted.foreach { case (op, r) => println(f"recall@10 $op $r%.4f") }
    o.info.foreach(println)
    b.rec.errorMessages.take(20).foreach(e => println("error " + e))
    metrics.foreach(m => println(f"metric ${m.name} ${m.value}%.4f ${m.unit}"))
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${b.rec.failed == 0}, "attempted": ${b.rec.attempted}, """ +
      s""""failed": ${b.rec.failed}, "metrics": {${body.mkString(", ")}}}""")
  }
}
