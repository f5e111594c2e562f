package graftbench

import graft.api.GraftCollection
import graftbench.Gen._
import graftbench.Oracle.Hit

/** serve_read: a single closed-loop client replays a seeded mix of the
  * collection's read calls against a loaded collection with live HNSW,
  * IVF and fulltext indexes. Nothing writes during the timed loop.
  *
  * The engine keeps one vector index per collection (building one drops
  * the other), so the IVF route is served from a sibling collection
  * holding the same documents. */
object ServeRead {
  val Docs = 3000
  val Dim = 64
  val Clusters = 32
  val Setups = 3
  val K = 10
  val Nprobe = 16
  /** A cycle of the nine read kinds takes about this long on 4 cores. */
  val NominalCycleS = 3.5

  /** The collection serving every route but IVF, and the IVF sibling. */
  final class Loaded(val main: GraftCollection, val ivf: GraftCollection)

  /** Loads the corpus into a fresh collection and builds its HNSW and
    * fulltext indexes. The bulk upserts are this workload's writes. */
  def setup(b: Bench, docs: Seq[Doc], name: String): GraftCollection = {
    val frame = b.frame(docs)
    val coll = b.db.createCollection(name)
    b.rec.call("upsert_bulk", Sample.Write)(coll.upsert(frame))
    b.rec.call("rebuild_hnsw", Sample.Build)(coll.rebuildHnswIndex())
    b.rec.call("rebuild_fulltext", Sample.Build)(coll.rebuildFulltextIndex())
    coll
  }

  /** Untimed throwaway load of a small slice of the corpus, so that JIT
    * compilation and Spark's first-use costs stay out of the bulk-load
    * writes. */
  private def warmUp(b: Bench, docs: Seq[Doc]): Unit = {
    val coll = b.db.createCollection("warmup")
    coll.upsert(b.frame(docs.take(300)))
    coll.count()
    b.db.dropCollection("warmup")
  }

  /** The IVF sibling, built once per run: a second IVF k-means per
    * set-up would cost more than the rest of the set-up. */
  def setupIvf(b: Bench, docs: Seq[Doc], name: String): GraftCollection = {
    val coll = b.db.createCollection(name)
    b.rec.call("upsert_bulk", Sample.Write)(coll.upsert(b.frame(docs)))
    b.rec.call("rebuild_ivf", Sample.Build)(coll.rebuildIndex(metric = "cosine"))
    coll
  }

  def run(b: Bench): Outcome = {
    val space = Gen.space(b.args.seed, Dim, Clusters)
    val docs = Gen.corpus(b.args.seed, space, Docs)
    // the first cycle is the untimed warm-up
    val cycles = Gen.readCycles(b.args.seed, space, 1 + b.timedCycles(NominalCycleS), Docs)

    warmUp(b, docs)
    // every set-up but the last is dropped; the last one serves
    val setupS = (1 to Setups).map { i =>
      val s = b.seconds(setup(b, docs, s"docs$i"))
      if (i < Setups) b.db.dropCollection(s"docs$i")
      s
    }
    val loaded = new Loaded(b.collection(s"docs$Setups"), setupIvf(b, docs, "docs_ivf"))
    val reader = new Reader(b, loaded, docs)

    cycles.head.foreach(reader.warm)
    cycles.tail.foreach(_.foreach(reader.timed))
    b.checkRecall(reader.recalls)

    Outcome(setupS, reader.recalls, s"docs$Setups", Some("docs_ivf"), space, docs,
      compactions = 0, writeOps = Set("upsert_bulk"),
      writtenBytes = (Setups + 1) * docs.map(_.userBytes).sum, info = Nil)
  }

  /** Runs and checks read calls against a fixed document set. */
  final class Reader(b: Bench, l: Loaded, docs: IndexedSeq[Doc]) {
    private val byId = docs.iterator.map(d => d.id -> d).toMap
    private val recallsOf = scala.collection.mutable.Map.empty[String, List[Double]]

    /** Mean recall@10 per ANN route. */
    def recalls: Map[String, Double] = recallsOf.toMap.map { case (op, r) => op -> r.sum / r.length }

    def warm(op: ReadOp): Unit = verify(op, execute(op))

    def timed(op: ReadOp): Unit = b.rec.call(op.name, Sample.Read)(execute(op)).foreach(verify(op, _))

    /** The client call; a result is the collected rows (or a count). */
    private def execute(op: ReadOp): Any = op match {
      case SearchFlat(q) => b.collect(l.main.search(b.queries(Seq(q)), "qid", "qvec", limit = K))
      case SearchFilter(q, f) =>
        b.collect(l.main.search(b.queries(Seq(q)), "qid", "qvec", limit = K, filter = f.expr))
      case SearchHnsw(q) => b.collect(l.main.searchHnsw(b.queries(Seq(q)), "qid", "qvec", limit = K))
      case SearchIvf(q) =>
        b.collect(l.ivf.search(b.queries(Seq(q)), "qid", "qvec", limit = K, nprobe = Some(Nprobe)))
      case SearchById(id) => b.collect(l.main.searchById(Seq(id), limit = K))
      case Hybrid(q, terms) =>
        b.collect(l.main.hybridSearch(b.queries(Seq(q)), "qid", "qvec", terms, limit = K))
      case Fulltext(terms) => b.collect(l.main.fulltext(terms, K))
      case QueryPage(f, offset) =>
        b.collect(l.main.query(f.expr, sort = Seq(("page", true), ("id", true)),
          limit = Some(20), offset = offset, outputFields = Seq("id", "page", "tag")))
      case Count(f) => l.main.count(f.expr)
    }

    private def verify(op: ReadOp, out: Any): Unit = {
      def rows = out.asInstanceOf[Array[org.apache.spark.sql.Row]]
      op match {
        case SearchFlat(q) => b.check(op.name, Oracle.checkTopK(b.hits(rows), Oracle.ranking(docs, q), K))
        case SearchFilter(q, f) =>
          b.check(op.name, Oracle.checkTopK(b.hits(rows), Oracle.ranking(docs, q, f.pred), K))
        case SearchById(id) =>
          b.check(op.name, Oracle.checkTopK(b.hits(rows), Oracle.ranking(docs, byId(id).vector), K))
        case SearchHnsw(q) => approx(op.name, q, b.hits(rows))
        case SearchIvf(q) => approx(op.name, q, b.hits(rows))
        case Hybrid(q, terms) => b.check(op.name, checkHybrid(rows, terms))
        case Fulltext(terms) =>
          b.check(op.name, Oracle.checkTopK(b.hits(rows, "doc_id"), Oracle.bm25(docs, terms), K))
        case QueryPage(f, offset) =>
          val want = docs.filter(f.pred).sortBy(d => (d.page, d.id)).slice(offset, offset + 20).map(_.id)
          val got = rows.toSeq.map(_.getAs[Long]("id"))
          if (got != want) b.rec.wrongAnswer(op.name, s"page ${got.take(3)}… expected ${want.take(3)}…")
        case Count(f) =>
          val want = docs.count(f.pred).toLong
          if (out != want) b.rec.wrongAnswer(op.name, s"count $out, expected $want")
      }
    }

    /** An approximate answer must hold real docs with their true scores,
      * in order; its recall is accumulated against the exact top-k. */
    private def approx(op: String, q: Array[Double], got: Seq[Hit]): Unit = {
      val exact = Oracle.ranking(docs, q)
      if (got.length != K) b.rec.wrongAnswer(op, s"${got.length} hits")
      got.find(h => !byId.contains(h.id) ||
          math.abs(Oracle.cosine(byId(h.id).vector, q) - h.score) > Oracle.ScoreTol)
        .foreach(h => b.rec.wrongAnswer(op, s"id ${h.id} score ${h.score} is not its true score"))
      recallsOf(op) = Oracle.recall(got.map(_.id), exact, K) :: recallsOf.getOrElse(op, Nil)
    }

    /** RRF fusion check: the sparse arm is exact, so each fused score
      * minus its sparse contribution must be a dense contribution
      * 1/(60 + r) for a distinct dense rank r <= 2k, or zero. */
    private def checkHybrid(rows: Array[org.apache.spark.sql.Row], terms: Seq[String]): Option[String] = {
      val sparse = Oracle.bm25(docs, terms).take(2 * K).zipWithIndex
        .map { case (h, i) => h.id -> 1.0 / (60 + i + 1) }.toMap
      val fused = rows.sortBy(_.getAs[Number]("rank").longValue).map(r => r.getAs[Long]("id") -> r.getAs[Double]("rrf"))
      if (fused.length != K) return Some(s"${fused.length} fused hits")
      if (fused.sliding(2).exists(p => p(1)._2 > p(0)._2 + 1e-6)) return Some("not ordered by rrf")
      val denseRanks = fused.toSeq.flatMap { case (id, s) =>
        val rest = s - sparse.getOrElse(id, 0.0)
        if (math.abs(rest) < 2e-6) None
        else (1 to 2 * K).find(r => math.abs(rest - 1.0 / (60 + r)) < 2e-6) match {
          case Some(r) => Some(r)
          case None => return Some(s"id $id rrf $s fits no dense rank")
        }
      }
      if (denseRanks.distinct.length != denseRanks.length) Some("dense ranks repeat") else None
    }
  }
}
