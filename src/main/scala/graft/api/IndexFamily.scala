package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** How [[GraftCollection.compactIndexes]] folds one artifact's
  * mutation history. */
private[api] sealed trait Compaction

private[api] object Compaction {
  /** Not segmented: a model (centroids, codebooks, bounds, thresholds)
    * fixed until the next rebuild, or a stats table maintenance
    * rewrites in place. */
  case object Keep extends Compaction

  /** Per-doc rows: keep the ledger-live rows (keyed by `rowId`), lay
    * them out, and write them as one fresh base segment. `surrogate` =
    * rows key string PKs by their xxhash64 surrogate (the coded
    * families); `subPartition` nests partition columns inside the
    * segment. */
  final case class RowMask(rowId: String,
                           layout: DataFrame => DataFrame = identity,
                           subPartition: Seq[String] = Nil,
                           surrogate: Boolean = false) extends Compaction

  /** Per-cell ball-radius stats: fold every generation by max(rho) —
    * NOT ledger masking (stats are per-cell aggregates, not per-doc
    * rows). The max over all generations stays an upper bound because
    * deletes only shrink cells. */
  case object MaxRho extends Compaction

  /** HNSW segment graphs: a graph's value IS its edge structure, so
    * there is no row fold — the family compacts with a tiered merge. */
  case object HnswTiered extends Compaction
}

/** One artifact collection of a family, named from its collection. */
private[api] final case class Artifact(name: String => String,
                                       compaction: Compaction = Compaction.Keep)

/** One index family's mutation-maintenance facts, declared once and
  * read by every mutation, compaction and invalidation path of
  * [[GraftCollection]].
  *
  *  - `tag`: every meta key of the family lives under `index.<tag>.`,
  *    and invalidation drops the whole prefix;
  *  - `name`: what error messages call it;
  *  - `liveKey`: the meta key that marks the family built;
  *  - `artifacts`: its sibling collections — the first is the liveness
  *    witness (the family is live iff `liveKey` is set AND the witness
  *    exists);
  *  - `vector`: a vector-index rebuild clears every vector family (one
  *    vector index per collection) and keeps the text families;
  *  - `columnKey`: the meta key naming the batch column an upsert must
  *    carry; `None` = the collection's vector column;
  *  - `append`: land a mutation batch as segment `seg`. A family with
  *    an append is segmented: it records a base segment
  *    (`index.<tag>.base_seg`) and the mutation ledger masks its
  *    replaced rows. Plain IVF has none: its cell assignments ride in
  *    the data layout;
  *  - `retract`: the tombstone-time work of a delete, beyond the ledger
  *    entry every segmented family gets (fulltext's stats delta). */
private[api] final case class IndexFamily(
    tag: String,
    name: String,
    liveKey: String,
    artifacts: Seq[Artifact],
    vector: Boolean,
    columnKey: Option[String],
    append: Option[IndexFamily.Append],
    retract: Option[IndexFamily.Append] = None) {
  def prefix: String = s"index.$tag."
  def segmented: Boolean = append.isDefined
  def baseSegKey: Option[String] = if (segmented) Some(s"${prefix}base_seg") else None
  def witness(coll: String): String = artifacts.head.name(coll)
  def artifactNames(coll: String): Seq[String] = artifacts.map(_.name(coll))

  /** The batch column an upsert must carry for this family. */
  def batchCol(meta: Map[String, String], vecCol: String): String =
    columnKey.fold(vecCol)(meta)

  /** What the upsert check calls the family in its error message. */
  def noun: String = if (vector) "vector" else name
}

private[api] object IndexFamily {
  /** (collection, batch — one row per id, full document schema,
    * segment number, pre-mutation meta) → the family's writes. */
  type Append = (GraftCollection, DataFrame, Int, Map[String, String]) => Unit

  import Compaction._
  import GraftCollection._

  private def termClustered(d: DataFrame): DataFrame =
    d.repartition(col("term")).sortWithinPartitions("term")
  private def cellClustered(d: DataFrame): DataFrame = d.repartition(col("cell"))
  private val codes = RowMask("id", cellClustered, Seq("cell"), surrogate = true)

  val Fulltext = IndexFamily("ft", "fulltext", "index.ft.text_col",
    Seq(Artifact(ftPostings, RowMask("doc_id", termClustered)), Artifact(ftTerms)),
    vector = false, columnKey = Some("index.ft.text_col"),
    append = Some((c, b, seg, m) => c.appendFulltextSegment(b, seg, m("index.ft.text_col"))),
    retract = Some((c, b, seg, m) =>
      c.appendFulltextSegment(b, seg, m("index.ft.text_col"), add = false)))

  val Lsh = IndexFamily("lsh", "LSH", "index.lsh.nbits",
    Seq(Artifact(lshBuckets, RowMask("id"))),
    vector = true, columnKey = None,
    append = Some(_.appendLshSegment(_, _, _)))

  // the PQ-coded families maintain like LSH signing: encoding against
  // the STORED codebooks (and stored centroids for the coarse cell) is a
  // pure per-doc function
  val Pq = IndexFamily("pq", "PQ", "index.pq.m",
    Seq(Artifact(pqCodes, RowMask("id", surrogate = true)), Artifact(pqCodebooks)),
    vector = true, columnKey = None,
    append = Some(_.appendPqSegment(_, _, _)))

  val IvfPq = IndexFamily("ivfpq", "IVF_PQ", "index.ivfpq.nlist",
    Seq(Artifact(ivfPqCodes, codes), Artifact(ivfPqCentroids), Artifact(ivfPqCodebooks),
      Artifact(ivfPqStats, MaxRho)),
    vector = true, columnKey = None,
    append = Some(_.appendIvfPqSegment(_, _, _)))

  val IvfSq = IndexFamily("ivfsq", "IVF_SQ8", "index.ivfsq.nlist",
    Seq(Artifact(ivfSqCodes, codes), Artifact(ivfSqCentroids), Artifact(ivfSqBounds),
      Artifact(ivfSqStats, MaxRho)),
    vector = true, columnKey = None,
    append = Some(_.appendIvfSqSegment(_, _, _)))

  val Minhash = IndexFamily("mh", "minhash", "index.mh.text_col",
    Seq(Artifact(mhSig, RowMask("doc_id")),
      Artifact(mhBkt, RowMask("doc_id",
        _.repartitionByRange(col("h")).sortWithinPartitions("h")))),
    vector = false, columnKey = Some("index.mh.text_col"),
    append = Some(_.appendMinhashSegment(_, _, _)))

  val Simhash = IndexFamily("sh", "simhash", "index.sh.text_col",
    Seq(Artifact(shSig, RowMask("doc_id"))),
    vector = false, columnKey = Some("index.sh.text_col"),
    append = Some(_.appendSimhashSegment(_, _, _)))

  // BQ packs against the STORED thresholds — a pure per-doc projection
  val Bq = IndexFamily("bq", "BQ", "index.bq.dim",
    Seq(Artifact(bqWords, RowMask("id", surrogate = true)), Artifact(bqThresholds)),
    vector = true, columnKey = None,
    append = Some(_.appendBqSegment(_, _, _)))

  // stored-sparse postings are a stat-less per-doc projection
  val SparseVector = IndexFamily("sv", "sparse-vector", "index.sv.field",
    Seq(Artifact(svPostings, RowMask("doc_id", termClustered))),
    vector = false, columnKey = Some("index.sv.field"),
    append = Some(_.appendSparseVectorSegment(_, _, _)))

  // segment graphs are independent, so a batch becomes its own new
  // segment graph(s) — no existing graph is ever touched
  val Hnsw = IndexFamily("hnsw", "HNSW", "index.hnsw.m",
    Seq(Artifact(hnswGraph, HnswTiered)),
    vector = true, columnKey = None,
    append = Some((c, b, _, m) => c.appendHnswSegment(b, m)))

  /** Plain IVF: the centroids model only — the upsert re-assigns batch
    * rows to cells inside the data write, and delete/update keep the
    * cell layout when the snapshot is re-persisted. */
  val Ivf = IndexFamily("ivf", "IVF", "index.ivf.nlist",
    Seq(Artifact(ivfCentroids)),
    vector = true, columnKey = None, append = None)

  /** Every family, in segment-append order. */
  val all: Seq[IndexFamily] =
    Seq(Fulltext, Lsh, Pq, IvfPq, IvfSq, Minhash, Simhash, Bq, SparseVector, Hnsw, Ivf)

  val vectorFamilies: Seq[IndexFamily] = all.filter(_.vector)
}
