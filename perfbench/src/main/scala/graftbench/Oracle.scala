package graftbench

import scala.collection.mutable

import graftbench.Gen._

/** An in-memory model of a collection under the write stream: the
  * expected state after every write. */
final class Model(initial: Seq[Doc]) {
  private val docs = mutable.TreeMap.empty[Long, Doc] ++= initial.map(d => d.id -> d)

  def ids: IndexedSeq[Long] = docs.keysIterator.toIndexedSeq
  def all: IndexedSeq[Doc] = docs.valuesIterator.toIndexedSeq
  def get(id: Long): Option[Doc] = docs.get(id)
  def size: Int = docs.size

  /** Applies a write; returns the ids it touched. */
  def apply(op: WriteOp): Seq[Long] = op match {
    case Upsert(ds) => ds.foreach(d => docs(d.id) = d); ds.map(_.id)
    case DeleteIds(ids) => ids.foreach(docs.remove); ids
    case DeleteFilter(f, limit) =>
      val doomed = docs.valuesIterator.filter(f.pred).take(limit).map(_.id).toList
      doomed.foreach(docs.remove); doomed
    case Update(f, page) =>
      val hit = docs.valuesIterator.filter(f.pred).toList
      hit.foreach(d => docs(d.id) = d.copy(page = page)); hit.map(_.id)
  }
}

/** Driver-side reference answers, computed without Spark. */
object Oracle {

  final case class Hit(id: Long, score: Double)

  /** Scores round to 4 decimals in the engine; this covers that and
    * summation-order differences. */
  val ScoreTol = 2e-4

  /** Lowest mean recall@10 an ANN route may show over a run before its
    * answers count as wrong. */
  val RecallFloor = 0.9

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every matching doc ranked by cosine, best first, ties by id. */
  def ranking(docs: Seq[Doc], q: Array[Double], pred: Doc => Boolean = _ => true): IndexedSeq[Hit] =
    docs.iterator.filter(pred).map(d => Hit(d.id, cosine(d.vector, q))).toIndexedSeq
      .sortBy(h => (-h.score, h.id))

  /** Checks an exact top-k answer against the exact ranking. Ties within
    * the score tolerance may resolve either way. */
  def checkTopK(got: Seq[Hit], exact: IndexedSeq[Hit], k: Int): Option[String] = {
    val want = math.min(k, exact.length)
    val byId = exact.iterator.map(h => h.id -> h.score).toMap
    if (got.length != want) return Some(s"${got.length} hits, expected $want")
    if (got.map(_.id).distinct.length != got.length) return Some("duplicate ids")
    got.find(h => !byId.contains(h.id)).foreach(h => return Some(s"id ${h.id} does not qualify"))
    got.find(h => math.abs(byId(h.id) - h.score) > ScoreTol)
      .foreach(h => return Some(s"id ${h.id} score ${h.score}, expected ${byId(h.id)}"))
    if (got.sliding(2).exists(p => p.length == 2 && p(1).score > p(0).score + ScoreTol))
      return Some("hits not ordered by score")
    if (want > 0) {
      val kth = exact(want - 1).score
      got.find(h => byId(h.id) < kth - ScoreTol)
        .foreach(h => return Some(s"id ${h.id} is below the k-th best score $kth"))
      exact.takeWhile(_.score > kth + ScoreTol).find(h => !got.exists(_.id == h.id))
        .foreach(h => return Some(s"missing id ${h.id}"))
    }
    None
  }

  /** Recall@k of an approximate answer: the share of the k slots filled
    * by docs that score at least as well as the exact k-th best. */
  def recall(got: Seq[Long], exact: IndexedSeq[Hit], k: Int): Double = {
    val want = math.min(k, exact.length)
    if (want == 0) return 1.0
    val kth = exact(want - 1).score
    val good = exact.takeWhile(_.score >= kth - ScoreTol).map(_.id).toSet
    got.distinct.count(good.contains).toDouble / want
  }

  // ------------------------------------------------------------ BM25

  val K1 = 1.2
  val B = 0.75

  def tokens(text: String): Array[String] = text.split(" ").filter(_.nonEmpty)

  private def round4(x: Double): BigDecimal =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  /** BM25 top-k over `docs` for the query terms, best first, ties by
    * id; scores are sums of per-term weights rounded to 4 decimals. */
  def bm25(docs: Seq[Doc], terms: Seq[String], pred: Doc => Boolean = _ => true): IndexedSeq[Hit] = {
    val toks = docs.iterator.map(d => d -> tokens(d.text)).filter(_._2.nonEmpty).toIndexedSeq
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val qs = terms.distinct
    val df = qs.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.iterator.filter { case (d, _) => pred(d) }.flatMap { case (d, ts) =>
      val dl = ts.length.toDouble
      val parts = qs.flatMap { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          Some(round4(idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))))
        }
      }
      if (parts.isEmpty) None else Some(Hit(d.id, parts.sum.toDouble))
    }.toIndexedSeq.sortBy(h => (-h.score, h.id))
  }

  // ------------------------------------------------------- pipeline

  /** The engine's hash split: bucket = first 32 bits of md5(id) mod 100,
    * train below `trainPct`. */
  def trainSplit(id: Long, trainPct: Int = 90): Boolean = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
    val top = ((md5(0) & 0xffL) << 24) | ((md5(1) & 0xffL) << 16) | ((md5(2) & 0xffL) << 8) | (md5(3) & 0xffL)
    top % 100 < trainPct
  }

  /** Exact content dedup: the lowest id of each distinct text. */
  def contentSurvivors(docs: Seq[Doc]): Set[Long] =
    docs.groupBy(_.text).valuesIterator.map(_.map(_.id).min).toSet

  /** Distinct word 3-gram shingles. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ")
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** Every pair (a < b) with exact 3-gram Jaccard >= threshold, found
    * through a shingle inverted index. */
  def similarPairs(docs: Seq[Doc], threshold: Double): Set[(Long, Long)] = {
    val sh = docs.iterator.map(d => d.id -> shingles(d.text)).toMap
    val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    for ((id, s) <- sh; g <- s) post.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += id
    val cands = mutable.HashSet.empty[(Long, Long)]
    for (ids <- post.valuesIterator if ids.length > 1; i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      cands += (if (a < b) (a, b) else (b, a))
    }
    cands.filter { case (a, b) => jaccard(sh(a), sh(b)) >= threshold }.toSet
  }
}
