package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.api.GraftCollection
import graftbench.Gen._

/** ingest_mutate: a single closed-loop client writes to a bucketed
  * collection with live HNSW and fulltext indexes and auto-compaction
  * every four segments, and reads after every write. Each write appends
  * one segment, so every cycle of four writes ends in one compaction.
  * After every write the client runs an HNSW search, a fulltext search,
  * a count and a read-back of the written ids; after an upsert, also a
  * FLAT search for an upserted vector.
  * Every write drops the serving caches, so the reads run cold against
  * a growing segment list.
  *
  * The engine keeps one vector index per collection; this collection
  * carries HNSW, so the IVF route is measured by serve_read only. */
object IngestMutate {
  val Docs = 2000
  val Dim = 64
  val Clusters = 32
  val Buckets = 8
  val AutoCompact = 4
  val Setups = 3
  val K = 10
  /** A cycle of four writes and their reads takes about this long on 4
    * cores. */
  val NominalCycleS = 15.0

  def setup(b: Bench, docs: Seq[Doc], i: Int): GraftCollection = {
    val frame = b.frame(docs)
    val coll = b.db.createCollection(s"ing$i", Map("buckets" -> Buckets.toString))
    b.rec.call("upsert_bulk", Sample.Build)(coll.upsert(frame))
    b.rec.call("rebuild_hnsw", Sample.Build)(coll.rebuildHnswIndex())
    b.rec.call("rebuild_fulltext", Sample.Build)(coll.rebuildFulltextIndex())
    coll.setAutoCompact(AutoCompact)
    coll
  }

  def run(b: Bench): Outcome = {
    val space = Gen.space(b.args.seed, Dim, Clusters)
    val docs = Gen.corpus(b.args.seed, space, Docs)
    // the first cycle is the untimed warm-up
    val cycles = Gen.writeCycles(b.args.seed, space, docs, 1 + b.timedCycles(NominalCycleS))

    val setupS = (1 to Setups).map { i =>
      val s = b.seconds(setup(b, docs, i))
      if (i < Setups) b.db.dropCollection(s"ing$i")
      s
    }
    val coll = b.collection(s"ing$Setups")
    val w = new Writer(b, coll, new Model(docs), space)
    // warm-up: one write of every kind, the reads after the first
    cycles.head.zipWithIndex.foreach { case (op, i) => w.step(op, timed = false, read = i == 0) }
    cycles.tail.foreach(_.foreach(w.step(_, timed = true)))
    b.checkRecall(Map("search_hnsw" -> w.recall))

    Outcome(setupS, Map("search_hnsw" -> w.recall), s"ing$Setups", None, space, w.model.all,
      w.compactions, WriteOpNames.toSet, w.userBytesWritten,
      info = Seq(s"compactions ${w.compactions} live_docs ${w.model.size}"))
  }

  /** Applies writes to the collection and the model, then reads and
    * checks both agree. */
  final class Writer(b: Bench, coll: GraftCollection, val model: Model, space: Space) {
    private val r = Gen.rng(b.args.seed, 6)
    private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    var userBytesWritten = 0L

    def recall: Double = if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.length

    private def call[A](op: String, kind: Sample.Kind, timed: Boolean)(f: => A): Option[A] =
      if (timed) b.rec.call(op, kind)(f) else Some(f)

    def step(op: WriteOp, timed: Boolean, read: Boolean = true): Unit = {
      val debtBefore = coll.segmentDebt
      val done = call(op.name, Sample.Write, timed)(op match {
        case Upsert(ds) => coll.upsert(b.frame(ds))
        case DeleteIds(ids) => coll.deleteByIds(ids)
        case DeleteFilter(f, limit) => coll.delete(f.expr, Some(limit))
        case Update(f, page) => coll.update(f.expr, Map("page" -> lit(page)))
      })
      if (done.isEmpty) return
      val touched = model(op)
      op match {
        case Upsert(ds) => userBytesWritten += ds.map(_.userBytes).sum
        case _ =>
      }
      if (coll.segmentDebt < debtBefore + 1) compactions += 1
      checkState(op.name)
      if (read) reads(op, touched, timed)
    }

    /** Order-independent digest of the stored documents against the
      * model's: count, id sum, page sum and text/tag checksums. */
    private def checkState(after: String): Unit = {
      val got = coll.df.agg(count(lit(1)), sum(col("id")), sum(col("page")),
        sum(crc32(col("text").cast("binary"))), sum(crc32(col("tag").cast("binary")))).head()
      val all = model.all
      def crc(s: String) = { val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue }
      val want = Seq(all.length.toLong, all.map(_.id).sum, all.map(_.page).sum,
        all.map(d => crc(d.text)).sum, all.map(d => crc(d.tag)).sum)
      val gotS = (0 until 5).map(i => if (got.isNullAt(i)) 0L else got.getLong(i))
      if (gotS != want) b.rec.wrongAnswer(after, s"stored state $gotS, model $want")
    }

    private def reads(op: WriteOp, touched: Seq[Long], timed: Boolean): Unit = {
      val docs = model.all
      val q = op match {
        case Upsert(ds) => ds.head.vector
        case _ => space.near(r.nextInt(space.clusters), r)
      }
      val terms = Gen.termsOf(space, r)

      call("search_hnsw", Sample.Read, timed)(
        b.collect(coll.searchHnsw(b.queries(Seq(q)), "qid", "qvec", limit = K))).foreach { rows =>
        val got = b.hits(rows)
        val exact = Oracle.ranking(docs, q)
        val byId = docs.iterator.map(d => d.id -> d).toMap
        if (got.length != math.min(K, docs.length)) b.rec.wrongAnswer("search_hnsw", s"${got.length} hits")
        got.find(h => !byId.contains(h.id) ||
            math.abs(Oracle.cosine(byId(h.id).vector, q) - h.score) > Oracle.ScoreTol)
          .foreach(h => b.rec.wrongAnswer("search_hnsw", s"id ${h.id} is not live with score ${h.score}"))
        recalls += Oracle.recall(got.map(_.id), exact, K)
      }
      call("fulltext", Sample.Read, timed)(b.collect(coll.fulltext(terms, K))).foreach { rows =>
        b.check("fulltext", Oracle.checkTopK(b.hits(rows, "doc_id"), Oracle.bm25(docs, terms), K))
      }
      call("count", Sample.Read, timed)(coll.count()).foreach { n =>
        if (n != docs.length) b.rec.wrongAnswer("count", s"count $n, model ${docs.length}")
      }
      call("query_ids", Sample.Read, timed)(b.collect(coll.queryByIds(touched))).foreach { rows =>
        val got = rows.map(rowDoc).sortBy(_.id).toSeq
        val want = touched.distinct.flatMap(model.get).sortBy(_.id)
        if (got.map(show) != want.map(show))
          b.rec.wrongAnswer("query_ids", s"${got.length} docs read back, model has ${want.length}")
      }
      // read-your-writes: a FLAT search for an upserted vector returns it at rank 1
      op match {
        case Upsert(ds) => call("search_flat", Sample.Read, timed)(
          b.collect(coll.search(b.queries(Seq(q)), "qid", "qvec", limit = K))).foreach { rows =>
          val got = b.hits(rows)
          b.check("search_flat", Oracle.checkTopK(got, Oracle.ranking(docs, q), K))
          if (got.headOption.map(_.id) != Some(ds.head.id))
            b.rec.wrongAnswer("search_flat", s"upserted id ${ds.head.id} not at rank 1")
        }
        case _ =>
      }
    }

    private def rowDoc(r: Row): Doc =
      Doc(r.getAs[Long]("id"), r.getAs[Seq[Double]]("vector").toArray, r.getAs[String]("text"),
        r.getAs[String]("tag"), r.getAs[Long]("page"))

    private def show(d: Doc): String = s"${d.id}|${d.vector.mkString(",")}|${d.text}|${d.tag}|${d.page}"
  }
}
