package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.{ClusterMetrics, KMeans, PCA}
import graft.sources.GeneIO

/** Plain-file helpers for reading back what the program wrote. */
object Io {
  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  /** Lines of a Spark text/JSON output directory (its part files). */
  def partLines(dir: Path): Seq[String] =
    files(dir).filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
    s
  }
}

/** The reference's own workflow at the reference's scale: one op reads
  * one labeled gene table, fits K-Means to convergence from a k-means++
  * seed set, assigns, scores against the labels, projects to 2-D and
  * writes the two TSV sinks. A round is one op per table: cho, iyer,
  * iris. */
final class GeneCluster extends Workload {
  private var tables: Seq[(Gen.GeneShape, Seq[Gen.GeneRow], Path)] = Nil
  private var seed = 0L
  private var spark: SparkSession = _
  private var t: Tracer = _
  private var st: Stats = _
  private var work: Path = _

  def generate(dir: Path, seed: Long): Unit = {
    this.seed = seed
    tables = Gen.GeneShapes.map(s => (s, Gen.geneTable(dir, seed, s), dir.resolve(s"${s.name}.txt")))
  }

  def prepare(spark: SparkSession, t: Tracer, st: Stats, work: Path): Unit = {
    this.spark = spark; this.t = t; this.st = st; this.work = work
  }

  /** The op's first steps on the smallest table (read, one Lloyd
    * round, assign): short, since set-up runs three times a run. */
  def warmUp(): Unit = {
    val (shape, _, path) = tables.last
    val df = GeneIO.readGenes(spark, path.toString).cache()
    try {
      val m = KMeans.fit(df, "id", "features", KMeans.PlusPlus(shape.k, 1L), maxIter = 1)
      KMeans.assign(df, "features", m.centroids).write.format("noop").mode("overwrite").save()
    } finally { df.unpersist(); () }
  }

  def opsPerRound: Int = tables.length

  def op(i: Int): OpResult = {
    val (shape, rows, path) = tables(i % tables.length)
    val df = t.span("sources.read") {
      val d = GeneIO.readGenes(spark, path.toString).cache()
      d.count(); d
    }
    try {
      val model = t.span("kmeans.fit") {
        KMeans.fit(df, "id", "features", KMeans.PlusPlus(shape.k, i % tables.length + 1L),
          maxIter = -1, tol = 1e-9)
      }
      st.add("kmeans.iterations", model.iterations)
      val assigned = KMeans.assign(df, "features", model.centroids)
      t.span("functions.assign") { assigned.write.format("noop").mode("overwrite").save() }
      st.add("functions.assign.rows", rows.length)
      val (jac, rand, pur) = t.span("metrics.eval") {
        (ClusterMetrics.jaccard(assigned, "label", "cluster").head(),
          ClusterMetrics.randIndex(assigned, "label", "cluster").head(),
          ClusterMetrics.purity(assigned, "label", "cluster").head())
      }
      val pcs = t.span("pca.project") {
        PCA.project2D(assigned, "id", "features", "cluster").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      }
      val out = work.resolve("gene-out").resolve(shape.name)
      t.span("sources.write") {
        GeneIO.writeTsv(GeneIO.finalOutputLines(assigned, "id", "cluster", "features"),
          out.resolve("finalOutput").toString)
        GeneIO.writeTsv(GeneIO.plotOutputLines(assigned, "cluster", "features"),
          out.resolve("toPlot").toString)
      }
      OpResult(rows.length, () => {
        st.add("sources.bytes_written", Io.dirBytes(out))
        checks(shape, rows, model, (jac.getLong(0), jac.getLong(1), jac.getDouble(2)),
          (rand.getLong(0), rand.getLong(1)), (pur.getLong(0), pur.getLong(1)), pcs, out)
      })
    } finally { df.unpersist(); () }
  }

  private def checks(shape: Gen.GeneShape, rows: Seq[Gen.GeneRow], model: KMeans.KMeansModel,
                     jac: (Long, Long, Double), rand: (Long, Long), pur: (Long, Long),
                     pcs: Array[(Long, Double, Double)], out: Path): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val name = shape.name
    val cents = model.centroids
    if (!model.converged) bad += s"$name: fit did not converge in ${model.iterations} iterations"
    val byId = rows.map(r => r.id -> r).toMap

    // the finalOutput sink: id \t cluster \t features, one line per row
    val sink = Io.partLines(out.resolve("finalOutput")).map { l =>
      val tk = l.split("\t")
      (tk(0).toLong, tk(1).toInt, tk.drop(2).map(_.toDouble))
    }
    if (sink.map(_._1).sorted != rows.map(_.id).sorted)
      bad += s"$name: finalOutput ids differ from the input ids"
    if (sink.exists { case (id, _, f) => byId.get(id).forall(r => !r.features.sameElements(f)) })
      bad += s"$name: finalOutput features differ from the input row's"
    val plot = Io.partLines(out.resolve("toPlot")).map { l =>
      val tk = l.split("\t"); (tk.init.map(_.toDouble).toSeq, tk.last.toInt)
    }
    if (plot.sortBy(_.toString) != sink.map(s => (s._3.toSeq, s._2)).sortBy(_.toString))
      bad += s"$name: toPlot rows differ from finalOutput's (features, cluster)"

    // assignment = plain nearest centroid, ties to the lowest id (a
    // distance equal to the winner's within 1e-12 counts as a tie)
    def nearest(f: Array[Double]): Int =
      cents.minBy { case (cid, c) => (Io.sqDist(f, c), cid) }._1
    val cluster = sink.map(s => s._1 -> s._2).toMap
    val mismatched = rows.count { r =>
      val mine = nearest(r.features)
      cluster.get(r.id).exists { theirs =>
        theirs != mine && {
          val dm = Io.sqDist(r.features, cents.find(_._1 == mine).get._2)
          cents.find(_._1 == theirs).forall(c =>
            math.abs(Io.sqDist(r.features, c._2) - dm) > 1e-12 * math.max(1.0, dm))
        }
      }
    }
    if (mismatched > 0) bad += s"$name: $mismatched rows not at their nearest centroid"

    // Lloyd fixed point: each centroid is the mean of its members
    cents.foreach { case (cid, c) =>
      val members = rows.filter(r => nearest(r.features) == cid)
      if (members.isEmpty) bad += s"$name: centroid $cid has no members"
      else {
        val mean = Array.tabulate(c.length)(j => members.map(_.features(j)).sum / members.length)
        val scale = math.max(1.0, c.map(math.abs).max)
        if (mean.zip(c).exists { case (a, b) => math.abs(a - b) > 1e-9 * scale })
          bad += s"$name: centroid $cid is not the mean of its members"
      }
    }

    // contingency recount of the (label, cluster) pairs
    val cells = rows.groupBy(r => (r.label.toLong, cluster.getOrElse(r.id, -1).toLong))
      .map { case (k, v) => k -> v.length.toLong }
    val m11 = cells.collect { case ((tl, p), n) if tl != -1 && p != -1 => n * n }.sum
    val g = cells.filter(_._1._1 != -1).groupBy(_._1._1).values.map(_.values.sum).map(x => x * x).sum
    val p = cells.filter(_._1._2 != -1).groupBy(_._1._2).values.map(_.values.sum).map(x => x * x).sum
    val n = rows.length.toLong
    if (jac._1 != m11 || jac._2 != g + p - 2 * m11)
      bad += s"$name: jaccard counts ${jac._1},${jac._2} != recount $m11,${g + p - 2 * m11}"
    if (math.abs(jac._3 - m11.toDouble / (g + p - m11)) > 1e-12)
      bad += s"$name: jaccard ${jac._3} != ${m11.toDouble / (g + p - m11)}"
    if (rand != ((m11, n * n - g - p + m11)))
      bad += s"$name: rand counts $rand != recount ${(m11, n * n - g - p + m11)}"
    val correct = cells.groupBy(_._1._2).values.map(_.values.max).sum
    if (pur != ((correct, n))) bad += s"$name: purity counts $pur != recount ${(correct, n)}"

    // PCA: the first component carries at least the second's variance,
    // and the two are uncorrelated
    if (pcs.map(_._1).sorted.toSeq != rows.map(_.id).sorted)
      bad += s"$name: PCA ids differ from the input ids"
    val m1 = pcs.map(_._2).sum / pcs.length
    val m2 = pcs.map(_._3).sum / pcs.length
    val v1 = pcs.map(x => (x._2 - m1) * (x._2 - m1)).sum / pcs.length
    val v2 = pcs.map(x => (x._3 - m2) * (x._3 - m2)).sum / pcs.length
    val cov = pcs.map(x => (x._2 - m1) * (x._3 - m2)).sum / pcs.length
    if (v1 < v2 * (1 - 1e-9)) bad += s"$name: var(pc1)=$v1 < var(pc2)=$v2"
    if (math.abs(cov) > 1e-6 * math.sqrt(v1 * v2)) bad += s"$name: pc1, pc2 correlated (cov $cov)"
    bad.result()
  }

  def release(): Unit = ()
}
