package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.{GraftClient, GraftCollection, GraftDatabase}
import graftbench.Oracle.Hit

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      dataDir: String, traceDir: String)

object Args {
  val Usage = "usage: --workload <serve_read|ingest_mutate> --seed <n> " +
    "--seconds <n> --trace <0|1> --data <dir> --traces <dir>"

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, Usage)
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k; $Usage"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace, get("data"),
      get("traces"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** What a workload hands back for its metrics and the traced probes:
  * set-up times, ANN recall per route, the collections it left (the
  * main one first, with HNSW and fulltext indexes; `ivf` has the IVF
  * index), the documents live in them, and the user bytes written by
  * the calls named in `writeOps`. */
final case class Outcome(setupS: Seq[Double], recalls: Map[String, Double],
                         main: String, ivf: Option[String], space: Space,
                         live: IndexedSeq[Doc], compactions: Int,
                         writeOps: Set[String], writtenBytes: Long, info: Seq[String]) {
  def collections: Seq[String] = main +: ivf.toSeq
  def userBytes: Long = live.map(_.userBytes).sum * collections.length
  /** Mean recall@10 over every ANN call. */
  def recall: Double = if (recalls.isEmpty) Double.NaN else recalls.values.sum / recalls.size
}

/** Shared state and helpers of one run. */
final class Bench(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(spark, args.trace)
  val rec = new Recorder(tracer)
  val root: String = Paths.get(args.dataDir).toAbsolutePath.toString
  val dbName = "bench"
  val db: GraftDatabase = new GraftClient(spark, root).createDatabase(dbName)

  // ------------------------------------------------------------ frames

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false)),
    StructField("text", StringType),
    StructField("tag", StringType),
    StructField("page", LongType)))

  def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id, d.vector.toSeq, d.text, d.tag, d.page)).asJava, DocSchema)

  private val QuerySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(DoubleType, containsNull = false))))

  def queries(qs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(qs.zipWithIndex.map { case (q, i) => Row(i.toLong, q.toSeq) }.asJava,
      QuerySchema)

  /** Hits of one query, in rank order. */
  def hits(rows: Array[Row], idCol: String = "id", scoreCol: String = "score"): Seq[Hit] = {
    val sorted = if (rows.nonEmpty && rows.head.schema.fieldNames.contains("rank"))
      rows.sortBy(_.getAs[Number]("rank").longValue) else rows
    sorted.toSeq.map(r => Hit(r.getAs[Number](idCol).longValue, r.getAs[Number](scoreCol).doubleValue))
  }

  // ------------------------------------------------------------- calls

  /** Collects `df` as one call's result, attaching its final-plan
    * profile when tracing. */
  def collect(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    tracer.attachProfile(PlanProfile.of(df, rows.length))
    rows
  }

  /** Cycles in the timed phase: as many whole cycles as fill `--seconds`
    * at the workload's nominal cycle time. The count depends on the
    * arguments only, so every run, on any machine or commit, does the
    * same work in the same op mix; a stop at a deadline would give a
    * faster run more (and warmer) cycles. */
  def timedCycles(nominalCycleS: Double): Int =
    math.max(1, math.ceil(args.seconds / nominalCycleS).toInt)

  /** Wall seconds of `f`. */
  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def check(op: String, problem: Option[String]): Unit =
    problem.foreach(rec.wrongAnswer(op, _))

  /** Fails each ANN route whose mean recall@10 is below the floor. */
  def checkRecall(recalls: Map[String, Double]): Unit =
    for ((op, r) <- recalls if r < Oracle.RecallFloor)
      rec.wrongAnswer(op, f"mean recall@10 $r%.3f is below ${Oracle.RecallFloor}")

  // ----------------------------------------------------------- storage

  /** Regular files under a collection and its `<coll>__*` artifacts. */
  private def files(coll: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root, dbName))
    try s.iterator.asScala.filter { p =>
      val top = Paths.get(root, dbName).relativize(p).getName(0).toString
      Files.isRegularFile(p) && (top == coll || top.startsWith(coll + "__"))
    }.toList
    finally s.close()
  }

  /** Bytes on disk under a collection and its index artifacts. */
  def storedBytes(coll: String): Long = files(coll).map(Files.size).sum

  /** Data files (not checksums or metadata) under a collection. */
  def dataFiles(coll: String): Int =
    files(coll).count(_.getFileName.toString.endsWith(".parquet"))

  def collection(name: String): GraftCollection = db.collection(name)
}
