package graftbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point: one workload, one seed, one run. The last line of
  * standard output is the result object; earlier lines are a readable
  * report. Exits 1 when any call failed or any answer was wrong. */
object Main {

  val Workloads: Map[String, Bench => Outcome] = Map(
    "serve_read" -> ServeRead.run,
    "ingest_mutate" -> IngestMutate.run)

  def main(argv: Array[String]): Unit = {
    val args = try Args.parse(argv) catch {
      case NonFatal(e) => System.err.println(e.getMessage); sys.exit(2)
    }
    val workload = Workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; ${Args.Usage}"); sys.exit(2)
    })
    val cores = Runtime.getRuntime.availableProcessors
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"${args.dataDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.dataDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val uptime = ManagementFactory.getRuntimeMXBean
    val sessionS = uptime.getUptime / 1000.0
    val env = Seq(
      "nproc" -> cores.toString,
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> spark.version,
      "seed" -> args.seed.toString,
      "load1" -> f"$load1%.2f")
    println("env " + env.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val exit = try {
      val b = new Bench(spark, args)
      val t0 = System.nanoTime()
      val outcome = workload(b)
      val wallS = (System.nanoTime() - t0) / 1e9
      val metrics =
        if (args.trace) Layers.metrics(b, outcome)
        else EndToEnd.metrics(b, outcome)
      println(f"timing session_ready_s $sessionS%.1f workload_s $wallS%.1f " +
        f"process_s ${uptime.getUptime / 1000.0}%.1f")
      Report.print(b, outcome, metrics)
      if (b.rec.failed == 0) 0 else 1
    } catch {
      case NonFatal(e) =>
        System.err.println(s"run aborted: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }
}
