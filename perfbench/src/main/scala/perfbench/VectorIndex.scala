package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Similarity}

/** A persisted IVF-PQ vector index, built once per run and then served
  * in rounds under writes; one op is one round. Each round runs the
  * fixed probe panel through the indexed top-k serve on the compacted
  * index, appends a batch, deletes a batch, serves the panel again
  * (the deletes now masked by tombstones) and compacts. Rounds
  * alternate between two mirror images, so the index returns to its
  * built state every two rounds and both do the same number of Spark
  * jobs:
  *   A: serve built;         append X, delete Y, serve built − Y + X, compact
  *   B: serve built − Y + X; append Y, delete X, serve built, compact
  * (X = the held-out append set, Y = the held-out delete set). After
  * each round the index must hold exactly the live ids. */
final class VectorIndex extends Workload {
  private val N = 8000
  private val D = 64
  private val Planted = 32
  private val Cells = 32
  private val PqM = 8
  private val PqK = 32
  private val NProbe = 4
  private val TopK = 10
  private val NAppend = 200
  private val NDelete = 200
  private val NProbes = 48
  private val Iters = 3

  private var seed = 0L
  private var emb: Gen.Embeddings = _
  private var inputDir: Path = _
  private var spark: SparkSession = _
  private var t: Tracer = _
  private var st: Stats = _
  private var work: Path = _
  private var corpus, appendX, deleteY, probes, yVecs: DataFrame = _
  private var served: Served = _

  def generate(dir: Path, seed: Long): Unit = {
    this.seed = seed; inputDir = dir
    emb = Gen.embeddings(dir, seed, N, D, Planted, NAppend, NDelete, NProbes)
  }

  private def readVectors(file: String): DataFrame =
    spark.read.text(inputDir.resolve(file).toString)
      .select(split(col("value"), "\t").as("t"))
      .select(col("t").getItem(0).cast("long").as("id"),
        split(col("t").getItem(1), ",").cast("array<double>").as("vec"))

  def prepare(spark: SparkSession, t: Tracer, st: Stats, work: Path): Unit = {
    this.spark = spark; this.t = t; this.st = st; this.work = work
    import spark.implicits._
    // spread over the task threads: the text file is a single split
    corpus = readVectors("corpus.tsv").repartition(Main.cores).cache()
    corpus.count()
    appendX = readVectors("append.tsv").cache()
    appendX.count()
    deleteY = emb.delete.toSeq.toDF("id").cache()
    deleteY.count()
    probes = readVectors("probes.tsv").cache()
    probes.count()
    yVecs = corpus.join(deleteY, "id").cache()
    yVecs.count()
  }

  /** One index and its serving state. */
  private final class Served(val path: String, base: Array[(Long, Array[Double])],
                             val yIds: Set[Long]) {
    val baseIds: Set[Long] = base.map(_._1).toSet
    val vectors: Map[Long, Array[Double]] = (base ++ emb.append).toMap
    var cents: KMeans.Centroids = _
    var pq: Similarity.PQModel = _
    val xIds: Set[Long] = emb.append.map(_._1).toSet
    // stored codes seen so far: an id's codes never change, since every
    // write encodes the same vector under the same codebook
    private val stored = scala.collection.mutable.Map.empty[Long, Seq[Int]]

    /** Reads the index's live ids and codes, and checks that the ids
      * are exactly `want`, each held once, under the codes it was
      * stored with before. */
    def indexCheck(want: Set[Long]): Seq[String] = {
      val rows = Similarity.ivfPqIndexCodes(spark, path).select("id", "codes").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
      val ids = rows.map(_._1).toSet
      val changed = rows.count { case (id, c) => stored.put(id, c).exists(_ != c) }
      val bad = Seq.newBuilder[String]
      if (rows.length != ids.size) bad += s"${rows.length - ids.size} ids are held more than once"
      if ((want -- ids).nonEmpty) bad += s"${(want -- ids).size} live ids are missing from the index"
      if ((ids -- want).nonEmpty) bad += s"${(ids -- want).size} ids in the index should not be live"
      if (changed > 0) bad += s"$changed ids were stored again under different codes"
      bad.result()
    }

    /** `iters` Lloyd rounds for both the coarse cells and the PQ
      * codebooks. */
    def build(df: DataFrame, init: KMeans.Init, iters: Int): Unit = {
      val fit = t.span("kmeans.fit") {
        KMeans.fit(df, "id", "vec", init, maxIter = iters, tol = 1e-6)
      }
      st.add("kmeans.iterations", fit.iterations)
      cents = fit.centroids
      pq = t.span("ann.pq_train") { Similarity.trainPQ(df, "id", "vec", D, PqM, PqK, iters) }
      t.span("functions.encode") {
        Similarity.encodePQ(df, "vec", pq).write.format("noop").mode("overwrite").save()
      }
      st.add("functions.encode.rows", base.length)
      t.span("ann.build") { Similarity.buildIvfPqIndex(df, "id", "vec", cents, pq, path) }
    }

    def buildCheck(): Seq[String] = indexCheck(baseIds)

    def query(): Array[(Long, Long, Int, Double)] = t.span("ann.query") {
      Similarity.ivfPqTopKIndexed(spark, path, probes, "id", "vec", cents, pq, NProbe, TopK)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    }

    /** The live ids before round `i`, and the ids deleted by the round
      * before it (none before the first). */
    private def stateBefore(i: Int): (Set[Long], Set[Long]) =
      if (i == 0) (baseIds, Set.empty)
      else if (i % 2 == 1) (baseIds -- yIds ++ xIds, yIds)
      else (baseIds, xIds)

    def round(i: Int): OpResult = {
      val (live0, deleted0) = stateBefore(i)
      val (live1, deleted1) = stateBefore(i + 1)
      val (append, delete) = if (i % 2 == 0) (appendX, yVecs) else (yVecs, appendX)
      val compacted = query()
      t.span("ann.append") { Similarity.appendIvfPqIndex(spark, append, "id", "vec", pq, path) }
      t.span("ann.delete") { Similarity.deleteFromIvfPqIndex(spark, delete.select("id"), "id", path) }
      val masked = query()
      t.span("ann.compact") { Similarity.compactIvfPqIndex(spark, path) }
      // the index is read after the compaction first, so that the codes
      // of the ids this round appended are known to the serve checks
      OpResult(2 * NProbes, () => indexCheck(live1) ++
        serveCheck(compacted, live0, deleted0) ++ serveCheck(masked, live1, deleted1))
    }

    private def serveCheck(rows: Array[(Long, Long, Int, Double)], live: Set[Long],
                   deleted: Set[Long]): Seq[String] = {
      val bad = Seq.newBuilder[String]
      val notLive = rows.count(r => !live(r._2))
      if (notLive > 0) bad += s"$notLive served ids are not in the live set"
      val dead = rows.count(r => deleted(r._2))
      if (dead > 0) bad += s"$dead served ids were deleted"
      // ADC distances recomputed from the codebook and the stored codes
      val codes = stored
      val books = pq.codebooks.map(_.toMap)
      val dsub = D / PqM
      val pv = emb.probes.toMap
      val offAdc = rows.count { case (p, id, _, ad) =>
        codes.get(id) match {
          case None => true
          case Some(c) =>
            val q = pv(p)
            val want = c.indices.map(j =>
              Io.sqDist(q.slice(j * dsub, (j + 1) * dsub), books(j)(c(j)))).sum
            math.abs(want - ad) > 1e-9 * math.max(1.0, want)
        }
      }
      if (offAdc > 0) bad += s"$offAdc served ADC distances differ from the recomputation"
      // ranks 1..n per probe, distances non-decreasing with rank
      rows.groupBy(_._1).foreach { case (p, rs) =>
        val s = rs.sortBy(_._3)
        if (s.map(_._3).toSeq != (1 to s.length)) bad += s"probe $p: ranks not 1..${s.length}"
        if (s.sliding(2).exists(w => w.length == 2 && w(1)._4 < w(0)._4))
          bad += s"probe $p: distance decreases with rank"
      }
      if (rows.map(_._1).distinct.length != NProbes) bad += "a probe got no results"
      // recall@10 against an exact brute-force top-10 over the live set
      val liveVecs = live.toArray.map(id => id -> vectors(id))
      val got = rows.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).toSet }
      emb.probes.foreach { case (p, q) =>
        val exact = liveVecs.map { case (id, v) => (Io.sqDist(q, v), id) }
          .sortBy(identity).take(TopK).map(_._2).toSet
        st.add("ann.recall.hits", (exact intersect got.getOrElse(p, Set.empty)).size)
        st.add("ann.recall.total", TopK)
      }
      bad.result()
    }
  }

  /** The build's kernels on the cached corpus, with init-only
    * centroids and codebooks: short, since set-up runs three times a
    * run. */
  def warmUp(): Unit = {
    val cents = KMeans.initCentroids(corpus, "id", "vec", KMeans.FirstK(Cells))
    KMeans.assign(corpus, "vec", cents).write.format("noop").mode("overwrite").save()
    val pq = Similarity.trainPQ(corpus, "id", "vec", D, PqM, PqK, maxIter = 0)
    Similarity.encodePQ(corpus, "vec", pq).write.format("noop").mode("overwrite").save()
  }

  override def build(): OpResult = {
    served = new Served(work.resolve("index").toString, emb.corpus, emb.delete.toSet)
    served.build(corpus, KMeans.Parallel(Cells, seed, rounds = 2), Iters)
    OpResult(N, () => served.buildCheck())
  }

  def opsPerRound: Int = 1

  def op(i: Int): OpResult = served.round(i)

  def release(): Unit = spark.catalog.clearCache()
}
