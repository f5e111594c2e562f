package graft.api

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The index-family table drives every invalidation path: truncate, a
  * vector-index switch and the sidecar opt-out each drop exactly the
  * families they should — every meta key under the family's
  * `index.<tag>.` prefix and every artifact collection — and keep the
  * rest live. */
class IndexFamilySpec extends SparkSpec {
  import IndexFamily._

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("spark", "graph", "vector", "index", "query", "merge", "token", "shard")
    (0 until 64).map { i =>
      (i.toLong, Seq.fill(6)(words(rnd.nextInt(words.size))).mkString(" "),
        Seq.fill(8)(rnd.nextGaussian()),
        Seq((words(i % 8), 1.0 + i % 3), (words((i + 3) % 8), 0.5)))
    }.toDF("id", "text", "vector", "sv0")
      .select(col("id"), col("text"), col("vector"),
        expr("transform(sv0, e -> struct(e._1 AS term, e._2 AS weight))")
          .as("sparse_vector"))
  }

  private val build: Map[IndexFamily, GraftCollection => Unit] = Map(
    Fulltext -> (_.rebuildFulltextIndex()),
    SparseVector -> (_.rebuildSparseVectorIndex()),
    Minhash -> (_.rebuildMinhashIndex()),
    Simhash -> (_.rebuildSimhashIndex()),
    Lsh -> (_.rebuildLshIndex(nBits = 16, bands = 4)),
    Pq -> (_.rebuildPqIndex(m = 4, k = 8)),
    IvfPq -> (_.rebuildIvfPqIndex(nlist = 4, m = 4, k = 8)),
    IvfSq -> (_.rebuildIvfSqIndex(nlist = 4)),
    Bq -> (_.rebuildBqIndex()),
    Hnsw -> (_.rebuildHnswIndex(m = 4, efConstruction = 16, numSegments = 2)),
    Ivf -> (_.rebuildIndex(nlist = 4)))

  private val textFamilies = IndexFamily.all.filterNot(_.vector)

  private def fresh(): (GraftDatabase, GraftCollection) = {
    val root = Files.createTempDirectory("graft-family").toString
    val db = new GraftClient(spark, root).createDatabase("db")
    val c = db.createCollection("t")
    c.upsert(docs)
    (db, c)
  }

  private def keys(c: GraftCollection, f: IndexFamily): Set[String] =
    c.describe.keySet.filter(_.startsWith(f.prefix))

  private def artifacts(db: GraftDatabase, f: IndexFamily): Seq[String] =
    f.artifactNames("t").filter(db.listCollections().contains)

  private def assertLive(db: GraftDatabase, c: GraftCollection, f: IndexFamily): Unit = {
    assert(c.describe.contains(f.liveKey), s"${f.name} lost its live key")
    assert(artifacts(db, f).contains(f.witness("t")), s"${f.name} lost its witness")
  }

  private def assertGone(db: GraftDatabase, c: GraftCollection, f: IndexFamily): Unit = {
    assert(keys(c, f).isEmpty, s"${f.name} meta survives: ${keys(c, f)}")
    assert(artifacts(db, f).isEmpty, s"${f.name} artifacts survive: ${artifacts(db, f)}")
  }

  test("every family in the table has a build here") {
    assert(build.keySet == IndexFamily.all.toSet)
  }

  IndexFamily.all.foreach { f =>
    test(s"truncate drops every ${f.name} meta key and artifact") {
      val (db, c) = fresh()
      build(f)(c)
      assertLive(db, c, f)
      c.truncate()
      assertGone(db, c, f)
      assert(c.count() == 0)
    }
  }

  test("a vector-index switch drops the old vector family and keeps the text families") {
    val (db, c) = fresh()
    textFamilies.foreach(build(_)(c))
    val chain = IndexFamily.vectorFamilies :+ IndexFamily.vectorFamilies.head
    build(chain.head)(c)
    chain.zip(chain.tail).foreach { case (old, next) =>
      build(next)(c)
      assertGone(db, c, old)
      assertLive(db, c, next)
      textFamilies.foreach(assertLive(db, c, _))
    }
  }

  test("keys the old invalidation lists missed do not outlive their index") {
    val (_, c) = fresh()
    c.rebuildHnswIndex(m = 4, efConstruction = 16, numSegments = 2)
    assert(Seq("index.hnsw.ef_default", "index.hnsw.heur").forall(c.describe.contains))
    c.rebuildIvfSqIndex(nlist = 4)
    assert(!c.describe.contains("index.hnsw.ef_default"))
    assert(!c.describe.contains("index.hnsw.heur"))
    assert(Seq("index.ivfsq.metric", "index.ivfsq.nprobe_default").forall(c.describe.contains))
    c.rebuildPqIndex(m = 4, k = 8)
    assert(!c.describe.contains("index.ivfsq.metric"))
    assert(!c.describe.contains("index.ivfsq.nprobe_default"))
    assert(c.describe.contains("index.pq.metric"))
    c.truncate()
    assert(!c.describe.contains("index.pq.metric"))
  }

  test("the sidecar witness survives a vector rebuild") {
    val (db, c) = fresh()
    build(Hnsw)(c)
    c.buildCertificateSidecar(nlist = 4)
    assertLive(db, c, IvfSq)
    build(Lsh)(c)
    assertGone(db, c, IvfSq)
    assertGone(db, c, Hnsw)
    assert(c.describe.get("index.sidecar.wanted").contains("true"))
    assert(c.sidecarStale)
  }

  test("dropCertificateSidecar drops only IVF_SQ8 when HNSW is also live") {
    val (db, c) = fresh()
    build(Fulltext)(c)
    build(Hnsw)(c)
    val hnswKeys = keys(c, Hnsw)
    c.buildCertificateSidecar(nlist = 4)
    c.dropCertificateSidecar()
    assertGone(db, c, IvfSq)
    assertLive(db, c, Hnsw)
    assert(keys(c, Hnsw) == hnswKeys)
    assertLive(db, c, Fulltext)
    assert(c.describe.get("index.sidecar.wanted").contains("false"))

    // a PRIMARY IVF_SQ8 index is left alone
    val (db2, c2) = fresh()
    build(IvfSq)(c2)
    c2.dropCertificateSidecar()
    assertLive(db2, c2, IvfSq)
  }

  test("GraftDatabase.truncateCollection drops the indexes with the rows") {
    val (db, c) = fresh()
    build(Fulltext)(c)
    assert(c.fulltext(Seq("spark")).count() > 0)
    db.truncateCollection("t")
    assert(c.count() == 0)
    assert(c.fulltext(Seq("spark")).count() == 0, "fulltext served deleted rows")
    assertGone(db, c, Fulltext)
  }

  test("GraftDatabase.truncateCollection resolves aliases") {
    val (db, c) = fresh()
    db.setAlias("al", "t")
    db.truncateCollection("al")
    assert(c.count() == 0)
    assert(!db.listCollections().contains("al"), "truncate created a phantom collection")
  }

  test("GraftDatabase.dropCollection drops the companions, not user collections") {
    val (db, c) = fresh()
    build(Fulltext)(c)
    c.upsert(docs.limit(3)) // an indexed mutation writes the ledger
    val models = Seq("t__w2v_vocab", "t__qc_weights", "t__lm_bigrams", "t__dsir_ratios")
    (models :+ "t__x").foreach(db.createCollection(_))
    assert(Seq("t__ft_postings", "t__ft_terms", "t__mut_ledger")
      .forall(db.listCollections().contains))
    db.dropCollection("t")
    assert(db.listCollections() == Seq("t__x"))
  }
}
