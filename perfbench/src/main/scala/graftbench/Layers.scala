package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.dedup.Dedup
import graft.filter.FilterParser
import graft.hybrid.Fusion
import graft.ops.Curation
import graft.sparse.Bm25
import graft.vector.{HnswIndex, IvfIndex, KnnSearch}
import graftbench.Gen._
import graftbench.Stats._

/** Per-layer metrics of a traced run. After the workload, a probe phase
  * calls every API op the workload did not run and each layer's public
  * functions directly, on the workload's own collection and documents.
  * Layer names are the engine's module names. */
object Layers {

  /** API ops with per-op latency, jobs and self time. */
  val ApiOps: Seq[String] = ReadOpNames ++ Seq("query_ids") ++ WriteOpNames

  private val Repeats = 3

  def metrics(b: Bench, o: Outcome): Seq[Metric] = {
    val loopCalls = b.tracer.finished()
    val stored = o.collections.map(b.storedBytes).sum
    val files = o.collections.map(b.dataFiles).sum
    val debt = b.collection(o.main).segmentDebt

    val probe = new Probe(b, o)
    val apiRecalls = probe.apiOps(b.rec.samples.map(_.op).toSet)
    val layer = probe.layers()
    val overheadMs = probe.traceOverheadMs()
    val calls = b.tracer.finished()
    b.tracer.stop()
    SpanFile.write(b, calls)
    println(s"training_set digest ${probe.digest}")
    Profiles.print(calls)

    def callsOf(op: String) = calls.filter(_.op == op)
    val api = ApiOps.flatMap { op =>
      val cs = callsOf(op)
      val lat = b.rec.samples.filter(_.op == op).map(_.latency)
      Seq(
        Metric(s"api.$op.p50_ms", median(lat), "ms"),
        Metric(s"api.$op.jobs", mean(cs.map(_.jobs.size.toDouble)), "count"),
        Metric(s"api.$op.self_ms", median(cs.map(_.selfMs)), "ms"))
    }
    def buildS(op: String) = median(b.rec.samples.filter(_.op == op).map(_.ms)) / 1000

    def perHit(ops: Set[String]) = {
      val ps = calls.filter(c => ops(c.op)).flatMap(_.profile)
      ps.map(_.scanRows).sum.toDouble / math.max(1L, ps.map(_.rowsOut).sum)
    }
    val recalls = apiRecalls ++ o.recalls
    val writes = loopCalls.filter(c => o.writeOps(c.op))
    val written = math.max(1L, o.writtenBytes)
    val ops = loopCalls.filter(c => ApiOps.contains(c.op))
    val t = ops.map(_.totals)
    val n = math.max(1, ops.length).toDouble
    val runMs = math.max(1L, t.map(_.runMs).sum).toDouble
    val mb = 1048576.0
    val profiled = ops.flatMap(_.profile)

    api ++ Seq(
      Metric("catalog.read_ms", layer("catalog.read"), "ms"),
      Metric("catalog.describe_ms", layer("catalog.describe"), "ms"),
      Metric("filter.parse_us", layer("filter.parse") * 1000, "us"),
      Metric("vector.knn_topk_ms", layer("vector.knn_topk"), "ms"),
      Metric("vector.hnsw_search_ms", layer("vector.hnsw_search"), "ms"),
      Metric("vector.ivf_search_ms", layer("vector.ivf_search"), "ms"),
      Metric("vector.rows_scored_per_hit",
        perHit(Set("search_flat", "search_filter", "search_hnsw", "search_ivf", "search_by_id")), "ratio"),
      Metric("vector.hnsw_recall_at_10", recalls("search_hnsw"), "ratio"),
      Metric("vector.ivf_recall_at_10", recalls("search_ivf"), "ratio"),
      Metric("sparse.fulltext_ms", layer("sparse.fulltext"), "ms"),
      Metric("sparse.postings_rows_per_hit", perHit(Set("fulltext")), "ratio"),
      Metric("sparse.encode_batch_ms", layer("sparse.encode_batch"), "ms"),
      Metric("hybrid.rrf_ms", layer("hybrid.rrf"), "ms"),
      Metric("catalog.files", files, "count"),
      Metric("catalog.segment_debt", debt, "count"),
      Metric("catalog.compactions", o.compactions, "count"),
      Metric("catalog.write_amp", writes.map(_.totals.outputBytes).sum.toDouble / written, "ratio"),
      Metric("catalog.stored_mb", stored / mb, "MB"),
      Metric("api.upsert_bulk_s", buildS("upsert_bulk"), "s"),
      Metric("api.rebuild_hnsw_s", buildS("rebuild_hnsw"), "s"),
      Metric("api.rebuild_ivf_s", buildS("rebuild_ivf"), "s"),
      Metric("api.rebuild_fulltext_s", buildS("rebuild_fulltext"), "s"),
      Metric("dedup.minhash_ms", layer("dedup.minhash"), "ms"),
      Metric("dedup.candidate_pairs", probe.candidatePairs, "count"),
      Metric("dedup.pairs_kept_ratio", probe.pairsKeptRatio, "ratio"),
      Metric("ops.training_set_ms", layer("ops.training_set"), "ms"),
      Metric("ops.docs_kept_ratio", probe.docsKeptRatio, "ratio"),
      Metric("vector.knn_batch_ms", layer("vector.knn_batch"), "ms"),
      Metric("spark.jobs_per_op", ops.map(_.jobs.size).sum / n, "count"),
      Metric("spark.stages_per_op", ops.map(_.stages).sum / n, "count"),
      Metric("spark.tasks_per_op", t.map(_.tasks).sum / n, "count"),
      Metric("spark.job_ms_per_op", ops.map(_.jobMs).sum / n, "ms"),
      Metric("spark.executor_cpu_share", t.map(_.cpuNs).sum / 1e6 / runMs, "ratio"),
      Metric("spark.scan_mb", t.map(_.inputBytes).sum / n / mb, "MB"),
      Metric("spark.scan_files", profiled.map(_.scanFiles).sum.toDouble / math.max(1, profiled.length), "count"),
      Metric("spark.shuffle_write_mb", t.map(_.shuffleWriteBytes).sum / n / mb, "MB"),
      Metric("spark.shuffle_read_mb", t.map(_.shuffleReadBytes).sum / n / mb, "MB"),
      Metric("spark.spill_mb", t.map(_.spillBytes).sum / n / mb, "MB"),
      Metric("spark.output_mb", t.map(_.outputBytes).sum / n / mb, "MB"),
      Metric("spark.gc_share", t.map(_.gcMs).sum / runMs, "ratio"),
      Metric("trace.overhead_ms", overheadMs, "ms"))
  }

  /** Direct calls into the layers, traced like API calls. */
  final class Probe(b: Bench, o: Outcome) {
    private val r = Gen.rng(b.args.seed, 7)
    private val catalog = new Catalog(b.spark, b.root)
    private val main = b.collection(o.main)
    private val q = o.space.near(r.nextInt(o.space.clusters), r)
    private val terms = Gen.termsOf(o.space, r)
    private val timings = scala.collection.mutable.Map.empty[String, List[Double]]
    var candidatePairs = 0.0
    var pairsKeptRatio = 0.0
    var docsKeptRatio = 0.0
    /** Digest of the training set for this seed, to compare across commits. */
    var digest = ""

    /** Median ms of `Repeats` traced calls of `f`. */
    private def time(name: String, repeats: Int = Repeats)(f: => Unit): Unit =
      for (_ <- 1 to repeats) {
        val id = b.tracer.begin(name)
        val t0 = System.nanoTime()
        f
        timings(name) = (System.nanoTime() - t0) / 1e6 :: timings.getOrElse(name, Nil)
        b.tracer.end(id)
      }

    /** Runs each API op the workload's loop did not; returns recall of
      * the ANN routes it ran. */
    def apiOps(ran: Set[String]): Map[String, Double] = {
      val ivf = o.ivf.getOrElse { ServeRead.setupIvf(b, o.live, "probe_ivf"); "probe_ivf" }
      val reader = new ServeRead.Reader(b, new ServeRead.Loaded(main, b.collection(ivf)), o.live)
      for (name <- ReadOpNames if !ran(name)) {
        val op = name match {
          case "search_by_id" => SearchById(o.live(r.nextInt(o.live.length)).id)
          case other => Gen.readOp(other, o.space, r, o.live.length.toLong)
        }
        reader.timed(op)
      }
      if (!ran("query_ids")) {
        val ids = Seq.fill(5)(o.live(r.nextInt(o.live.length)).id).distinct
        b.rec.call("query_ids", Sample.Read)(b.collect(main.queryByIds(ids)))
      }
      if (!WriteOpNames.forall(ran)) {
        val w = new IngestMutate.Writer(b, main, new Model(o.live), o.space)
        Gen.writeCycles(b.args.seed + 1, o.space, o.live, 1).head
          .filterNot(op => ran(op.name)).foreach(w.step(_, timed = true, read = false))
      }
      reader.recalls
    }

    def layers(): Map[String, Double] = {
      val db = b.dbName
      time("catalog.read")(catalog.read(db, o.main))
      time("catalog.describe")(catalog.describeCollection(db, o.main))
      val filters = Seq(Filter.tagIs("t07"), Filter.pageBelow(10), Filter.pageBelow(50)).map(_.expr)
      timings("filter.parse") = List.fill(Repeats) {
        val t0 = System.nanoTime()
        for (_ <- 1 to 100; f <- filters) FilterParser.parse(f)
        (System.nanoTime() - t0) / 1e6 / (100 * filters.length)
      }
      val qdf = b.queries(Seq(q))
      time("vector.knn_topk")(b.collect(KnnSearch.topK(main.df, "id", "vector", qdf, "qid", "qvec",
        "cosine", 10)))
      val meta = main.describe
      time("vector.hnsw_search")(b.collect(HnswIndex.search(
        catalog.read(db, o.main + "__hnsw_graph"), main.df, "id", "vector", Array((0L, q)),
        meta("index.hnsw.metric"), 10, meta.get("index.hnsw.ef_default").map(_.toInt).getOrElse(10))))
      val ivf = o.ivf.getOrElse("probe_ivf")
      val assigned = catalog.read(db, ivf)
        .select(col("id"), col("vector").as("__vec"), col("__cell").as("cell"))
      time("vector.ivf_search")(b.collect(IvfIndex.searchAssigned(assigned,
        catalog.read(db, ivf + "__ivf_centroids"), qdf, "qid", "qvec", "cosine", 10, ServeRead.Nprobe)))
      val ledger = o.main + "__mut_ledger"
      val index = Bm25.SparseIndex(catalog.read(db, o.main + "__ft_postings"),
        catalog.read(db, o.main + "__ft_terms"),
        if (catalog.collectionExists(db, ledger)) Some(catalog.read(db, ledger)) else None,
        meta.get("index.ft.base_seg").map(_.toInt).getOrElse(0))
      val sparse = b.collect(Bm25.fulltextIndexed(index, terms, 20))
      time("sparse.fulltext")(b.collect(Bm25.fulltextIndexed(index, terms, 10)))
      val dense = b.collect(KnnSearch.topK(main.df, "id", "vector", qdf, "qid", "qvec", "cosine", 20))
      import b.spark.implicits._
      val denseL = dense.map(r => (0L, r.getAs[Long]("id"), r.getAs[Number]("rank").intValue)).toSeq
        .toDF("query_id", "id", "rank")
      val sparseL = sparse.map(r => (0L, r.getAs[Long]("doc_id"), r.getAs[Number]("rank").intValue)).toSeq
        .toDF("query_id", "id", "rank")
      time("hybrid.rrf")(b.collect(Fusion.rrf(Seq(denseL, sparseL), Seq("query_id"), "id", "rank", 60, 10)))
      val batch = b.frame(o.live.take(50))
      time("sparse.encode_batch")(b.collect(Bm25.encode(batch, "id", "text")))
      pipeline()
      val batchQ = b.queries(Seq.fill(200)(o.space.near(r.nextInt(o.space.clusters), r)))
      time("vector.knn_batch", 1)(b.collect(main.search(batchQ, "qid", "qvec", limit = 10)))
      timings.toMap.map { case (k, v) => k -> median(v) }
    }

    /** Near-dup pairs and the training set over a seeded text corpus
      * with planted duplicates, with the answers checked on the driver. */
    private def pipeline(): Unit = {
      val corpus = Gen.textCorpus(b.args.seed, o.space, 2000, exactShare = 0.05, nearShare = 0.05)
      val docs = b.frame(corpus).cache()
      docs.count()
      var pairs: Array[org.apache.spark.sql.Row] = Array.empty
      time("dedup.minhash", 1) { pairs = b.collect(Dedup.minhashLsh(docs, "id", "text")) }
      val got = pairs.map(p => (p.getAs[Long]("id_a"), p.getAs[Long]("id_b"))).toSet
      val exact = Oracle.similarPairs(corpus, 0.5)
      candidatePairs = got.size
      pairsKeptRatio = got.count(exact.contains).toDouble / math.max(1, got.size)
      val pairsDf = docs.sparkSession.createDataFrame(got.toSeq).toDF("id_a", "id_b")
      def build(): DataFrame = Curation.buildTrainingSet(docs, "id", "text", "tag", nearDupPairs = Some(pairsDf))
      time("ops.training_set", 1)(build().write.format("noop").mode("overwrite").save())
      val out = build().collect()
      val kept = out.map(_.getAs[Long]("id")).toSet
      digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(out.map(_.toSeq.mkString("|")).sorted.mkString("\n").getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(16)
      docsKeptRatio = kept.size.toDouble / corpus.length
      // exact content dedup and the hash split, recomputed on the driver
      val allowed = Oracle.contentSurvivors(corpus).filter(id => Oracle.trainSplit(id))
      val outside = kept.diff(allowed)
      if (outside.nonEmpty) b.rec.wrongAnswer("ops.training_set",
        s"${outside.size} kept docs are content duplicates or eval split, e.g. ${outside.head}")
      val paired = got.flatMap(p => Seq(p._1, p._2))
      val lost = allowed.diff(kept).diff(paired)
      if (lost.nonEmpty) b.rec.wrongAnswer("ops.training_set",
        s"${lost.size} unique train docs missing, e.g. ${lost.head}")
      docs.unpersist()
    }

    /** Median latency of a search-plus-count call with tracing minus
      * without, over repeats interleaved in alternating order. */
    def traceOverheadMs(): Double = {
      val on, off = scala.collection.mutable.ArrayBuffer.empty[Double]
      val qdf = b.queries(Seq(q))
      for (i <- 1 to 4; traced <- if (i % 2 == 0) Seq(false, true) else Seq(true, false)) {
        b.tracer.paused = !traced
        val t0 = System.nanoTime()
        val id = b.tracer.begin("trace.overhead")
        b.collect(main.search(qdf, "qid", "qvec", limit = 10))
        main.count(Filter.pageBelow(10).expr)
        b.tracer.end(id)
        (if (traced) on else off) += (System.nanoTime() - t0) / 1e6
      }
      b.tracer.paused = false
      median(on.toSeq) - median(off.toSeq)
    }
  }
}

/** Writes the spans of a traced run as JSON lines, one call per line
  * with its Spark jobs as children. */
object SpanFile {
  def write(b: Bench, calls: Seq[CallTrace]): Unit = {
    val dir = java.nio.file.Paths.get(b.args.traceDir)
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"${b.args.workload}-seed${b.args.seed}.jsonl")
    val lines = calls.map { c =>
      val jobs = c.jobs.toSeq.sortBy(_._1).map { case (j, i) =>
        s"""{"job": $j, "start_ms": ${i.start}, "end_ms": ${i.end}}""" }
      val t = c.totals
      s"""{"id": ${c.id}, "op": "${c.op}", "start_ms": ${c.startMs}, "end_ms": ${c.endMs}, """ +
        s""""self_ms": ${c.selfMs}, "stages": ${c.stages}, "tasks": ${t.tasks}, """ +
        s""""input_bytes": ${t.inputBytes}, "shuffle_write_bytes": ${t.shuffleWriteBytes}, """ +
        s""""output_bytes": ${t.outputBytes}, "jobs": [${jobs.mkString(", ")}]}"""
    }
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"spans ${calls.length} calls written to $f")
  }
}

/** The final-plan profile per op type, printed in the report. */
object Profiles {
  def print(calls: Seq[CallTrace]): Unit =
    calls.filter(_.profile.isDefined).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, cs) =>
      val ps = cs.flatMap(_.profile)
      val n = ps.length.toDouble
      val top = ps.flatMap(_.opMs).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(3)
        .map { case (name, ms) => f"$name ${ms / n}%.1fms" }
      println(f"profile $op%-20s calls=${ps.length} scan_files=${ps.map(_.scanFiles).sum / n}%.1f " +
        f"scan_rows=${ps.map(_.scanRows).sum / n}%.0f rows_out=${ps.map(_.rowsOut).sum / n}%.0f " +
        f"spill_mb=${ps.map(_.spillBytes).sum / n / 1048576}%.2f top: ${top.mkString(", ")}")
    }
}
