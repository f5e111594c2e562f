package graftbench

import java.util.SplittableRandom

/** One stored document. `tag` has 100 uniform values and `page` is
  * uniform in [0, 100), so filter selectivity is known in advance. */
final case class Doc(id: Long, vector: Array[Double], text: String, tag: String, page: Long) {
  /** Raw size of the user's data in this document. */
  def userBytes: Long = 8L + 8L * vector.length + text.length + tag.length + 8L
}

/** A filter in the collection's filter language with its meaning. */
final case class Filter(expr: String, pred: Doc => Boolean)

object Filter {
  def tagIs(t: String): Filter = Filter(s"""tag = "$t"""", _.tag == t)
  def pageBelow(p: Int): Filter = Filter(s"page < $p", _.page < p)
  def tagName(i: Int): String = f"t$i%02d"
}

/** The seeded vector space and vocabulary a workload draws from:
  * clustered dense vectors and cluster-specific topic words. */
final case class Space(dim: Int, centers: Array[Array[Double]], topicWords: Int,
                       globalWords: Int, noise: Double) {
  def clusters: Int = centers.length
  def topicWord(c: Int, j: Int): String = s"w${c * topicWords + j}"
  def globalWord(j: Int): String = s"w${clusters * topicWords + j}"

  def near(c: Int, r: SplittableRandom): Array[Double] =
    Array.tabulate(dim)(d => centers(c)(d) + noise * r.nextGaussian())
}

/** Deterministic inputs: every generator is a pure function of the seed
  * and its own stream number. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def space(seed: Long, dim: Int, clusters: Int): Space = {
    val r = rng(seed, 1)
    Space(dim, Array.fill(clusters, dim)(r.nextGaussian()), topicWords = 40,
      globalWords = 3000, noise = 0.5)
  }

  /** A document of a random cluster: its vector sits near the cluster
    * center and ~70% of its words are that cluster's topic words. */
  def doc(id: Long, s: Space, r: SplittableRandom): Doc = {
    val c = r.nextInt(s.clusters)
    val n = 12 + r.nextInt(12)
    val words = Array.fill(n) {
      if (r.nextDouble() < 0.7) s.topicWord(c, r.nextInt(s.topicWords))
      else s.globalWord(r.nextInt(s.globalWords))
    }
    Doc(id, s.near(c, r), words.mkString(" "), Filter.tagName(r.nextInt(100)),
      r.nextInt(100).toLong)
  }

  def corpus(seed: Long, s: Space, n: Int): Vector[Doc] = {
    val r = rng(seed, 2)
    Vector.tabulate(n)(i => doc(i.toLong + 1, s, r))
  }

  // ------------------------------------------------------------ reads

  sealed trait ReadOp { def name: String }
  final case class SearchFlat(q: Array[Double]) extends ReadOp { def name = "search_flat" }
  final case class SearchFilter(q: Array[Double], f: Filter) extends ReadOp { def name = "search_filter" }
  final case class SearchHnsw(q: Array[Double]) extends ReadOp { def name = "search_hnsw" }
  final case class SearchIvf(q: Array[Double]) extends ReadOp { def name = "search_ivf" }
  final case class SearchById(id: Long) extends ReadOp { def name = "search_by_id" }
  final case class Hybrid(q: Array[Double], terms: Seq[String]) extends ReadOp { def name = "hybrid" }
  final case class Fulltext(terms: Seq[String]) extends ReadOp { def name = "fulltext" }
  final case class QueryPage(f: Filter, offset: Int) extends ReadOp { def name = "query_page" }
  final case class Count(f: Filter) extends ReadOp { def name = "count" }

  val ReadOpNames: Seq[String] = Seq("search_flat", "search_filter", "search_hnsw",
    "search_ivf", "search_by_id", "hybrid", "fulltext", "query_page", "count")

  /** Filters of about 1%, 10% and 50% selectivity. */
  def filterOf(r: SplittableRandom): Filter = r.nextInt(3) match {
    case 0 => Filter.tagIs(Filter.tagName(r.nextInt(100)))
    case 1 => Filter.pageBelow(10)
    case _ => Filter.pageBelow(50)
  }

  def termsOf(s: Space, r: SplittableRandom): Seq[String] = {
    val c = r.nextInt(s.clusters)
    Seq(s.topicWord(c, r.nextInt(s.topicWords)), s.topicWord(c, r.nextInt(s.topicWords)),
      s.globalWord(r.nextInt(s.globalWords))).distinct
  }

  /** One read op of the named kind with seeded parameters. */
  def readOp(name: String, s: Space, r: SplittableRandom, maxId: Long): ReadOp = {
    def q = s.near(r.nextInt(s.clusters), r)
    name match {
      case "search_flat" => SearchFlat(q)
      case "search_filter" => SearchFilter(q, filterOf(r))
      case "search_hnsw" => SearchHnsw(q)
      case "search_ivf" => SearchIvf(q)
      case "search_by_id" => SearchById(1 + r.nextLong(maxId))
      case "hybrid" => Hybrid(q, termsOf(s, r))
      case "fulltext" => Fulltext(termsOf(s, r))
      case "query_page" =>
        QueryPage(if (r.nextBoolean()) Filter.pageBelow(10) else Filter.pageBelow(50), r.nextInt(50))
      case "count" => Count(filterOf(r))
    }
  }

  /** Seeded read cycles: each cycle holds one op of every kind in a
    * seeded order, so any whole number of cycles has the same mix. */
  def readCycles(seed: Long, s: Space, n: Int, maxId: Long,
                 kinds: Seq[String] = ReadOpNames): Vector[Vector[ReadOp]] = {
    val r = rng(seed, 3)
    Vector.fill(n) {
      val order = kinds.toArray
      for (i <- order.indices.reverse) {
        val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.toVector.map(readOp(_, s, r, maxId))
    }
  }

  // ----------------------------------------------------------- writes

  sealed trait WriteOp { def name: String }
  final case class Upsert(docs: Seq[Doc]) extends WriteOp { def name = "upsert" }
  final case class DeleteIds(ids: Seq[Long]) extends WriteOp { def name = "delete_ids" }
  final case class DeleteFilter(f: Filter, limit: Int) extends WriteOp { def name = "delete_filter" }
  final case class Update(f: Filter, page: Long) extends WriteOp { def name = "update" }

  val WriteOpNames: Seq[String] = Seq("upsert", "delete_ids", "delete_filter", "update")

  /** Seeded write cycles against a collection loaded with `initial`:
    * each cycle holds one write of every kind, always in the same order,
    * so the compaction that ends a cycle always follows the same kind.
    * Upserts carry 50 docs, 30% of them replacing live ids. The stream
    * simulates the collection to pick live ids, so it depends on the
    * seed alone. */
  def writeCycles(seed: Long, s: Space, initial: Seq[Doc], n: Int): Vector[Vector[WriteOp]] = {
    val r = rng(seed, 4)
    val model = new Model(initial)
    var nextId = initial.map(_.id).max + 1
    def op(kind: String): WriteOp = {
      val live = model.ids
      kind match {
        case "upsert" =>
          val docs = Seq.fill(50) {
            val id = if (r.nextDouble() < 0.3) live(r.nextInt(live.length))
                     else { nextId += 1; nextId - 1 }
            doc(id, s, r)
          }
          Upsert(docs.groupBy(_.id).values.map(_.last).toSeq.sortBy(_.id))
        case "delete_ids" => DeleteIds(Seq.fill(1 + r.nextInt(4))(live(r.nextInt(live.length))).distinct)
        case "delete_filter" => DeleteFilter(Filter.tagIs(Filter.tagName(r.nextInt(100))), 5)
        case "update" => Update(Filter.tagIs(Filter.tagName(r.nextInt(100))), 1000L + r.nextInt(1000))
      }
    }
    Vector.fill(n)(WriteOpNames.toVector.map { k => val o = op(k); model(o); o })
  }

  // --------------------------------------------------------- pipeline

  /** A text corpus with planted exact duplicates (`exactShare`) and near
    * duplicates (`nearShare`: a copy with two words replaced). Texts use
    * a 20k-word vocabulary, so unrelated docs share almost no 3-gram
    * shingles. Domains cycle over four values in `tag`. */
  def textCorpus(seed: Long, s: Space, n: Int, exactShare: Double,
                 nearShare: Double): Vector[Doc] = {
    val r = rng(seed, 5)
    val docs = Vector.newBuilder[Doc]
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < exactShare) texts(r.nextInt(i))
        else if (i > 10 && u < exactShare + nearShare) {
          val w = texts(r.nextInt(i)).split(" ")
          for (_ <- 0 until 2) w(r.nextInt(w.length)) = s"v${r.nextInt(20000)}"
          w.mkString(" ")
        } else Array.fill(40 + r.nextInt(20))(s"v${r.nextInt(20000)}").mkString(" ")
      texts(i) = text
      docs += Doc(i.toLong + 1, s.near(r.nextInt(s.clusters), r), text, s"d${i % 4}",
        r.nextInt(100).toLong)
    }
    docs.result()
  }
}
