package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Plain Scala, no Spark: the program sees
  * only the files written here. The same seed writes the same bytes. */
object Gen {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller, so the stream does not depend on java.util.Random
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Fixed-point decimal text of `x` (String.format is too slow for a
    * million numbers). */
  private def fmt(x: Double, digits: Int): String = {
    val scale = math.pow(10, digits).toLong
    val l = math.round(x * scale)
    val frac = (math.abs(l) % scale).toString
    (if (l < 0) "-" else "") + math.abs(l) / scale + "." + "0" * (digits - frac.length) + frac
  }

  private def write(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ── gene tables (reference TSV: id \t label \t v1 … vd) ───────────

  /** The reference datasets' shapes: rows, feature columns, k, and how
    * many rows are unlabeled outliers (label -1, as iyer has). */
  final case class GeneShape(name: String, rows: Int, dims: Int, k: Int, outliers: Int)

  val GeneShapes: Seq[GeneShape] = Seq(
    GeneShape("cho", 386, 16, 5, 0),
    GeneShape("iyer", 517, 12, 10, 26),
    GeneShape("iris", 150, 4, 3, 0))

  final case class GeneRow(id: Long, label: Int, features: Array[Double])

  /** A Gaussian mixture of `k` well-separated components (centres
    * spread over ±4 per dimension, spread 0.3) plus uniform outliers, so
    * k-means++ seeds one centre per component and Lloyd's rounds to
    * convergence barely vary between seeds; writes the
    * table and returns its rows as parsed back from the written text.
    * The centres depend on the shape alone and the rows on the seed, so
    * every seed poses the same clustering problem with fresh samples. */
  def geneTable(dir: Path, seed: Long, s: GeneShape): Seq[GeneRow] = {
    val fixed = rng(0L, s.name.hashCode.toLong)
    val centres = Array.fill(s.k, s.dims)(fixed.nextDouble() * 8 - 4)
    val r = rng(seed, s.name.hashCode.toLong)
    val rows = (1 to s.rows).map { id =>
      if (id <= s.outliers) GeneRow(id, -1, Array.fill(s.dims)(r.nextDouble() * 10 - 5))
      else {
        val c = r.nextInt(s.k)
        GeneRow(id, c + 1, Array.tabulate(s.dims)(j => centres(c)(j) + 0.3 * gauss(r)))
      }
    }
    val lines = rows.map(g => (g.id.toString +: g.label.toString +: g.features.map(fmt(_, 4)))
      .mkString("\t"))
    write(dir.resolve(s"${s.name}.txt"), lines.iterator)
    // the written text is the input: parse it back so checks compare
    // against exactly the doubles the program reads
    lines.map { l =>
      val t = l.split("\t")
      GeneRow(t(0).toLong, t(1).toInt, t.drop(2).map(_.toDouble))
    }
  }

  // ── embedding corpus (id \t v1,v2,…,vd) ──────────────────────────

  final case class Embeddings(corpus: Array[(Long, Array[Double])],
                              append: Array[(Long, Array[Double])],
                              delete: Array[Long],
                              probes: Array[(Long, Array[Double])])

  /** Planted Gaussians at two scales: `clusters` coarse centres in d
    * dims, families of about ten vectors around points near them, each
    * vector its family's point plus small isotropic noise — so a probe
    * drawn near a family has that family as its true neighbours. Held
    * out from the corpus: an append set (fresh ids), a delete set
    * (corpus ids) and a probe panel (ids no corpus vector has). */
  def embeddings(dir: Path, seed: Long, n: Int, d: Int, clusters: Int,
                 nAppend: Int, nDelete: Int, nProbes: Int): Embeddings = {
    val r = rng(seed, 64L)
    val centres = Array.fill(clusters, d)(gauss(r))
    val families = Array.fill(math.max(1, n / 10)) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(d)(j => c(j) + 0.35 * gauss(r))
    }
    def draw(): Array[Double] = {
      val f = families(r.nextInt(families.length))
      Array.tabulate(d)(j => fmt(f(j) + 0.08 * gauss(r), 5).toDouble)
    }
    val corpus = Array.tabulate(n)(i => (i + 1L, draw()))
    val append = Array.tabulate(nAppend)(i => (1000001L + i, draw()))
    val probes = Array.tabulate(nProbes)(i => (2000001L + i, draw()))
    val delete = {
      val ids = (1L to n.toLong).toArray
      for (i <- 0 until nDelete) { // partial Fisher-Yates
        val j = i + r.nextInt(ids.length - i)
        val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids.take(nDelete).sorted
    }
    def vecLines(vs: Array[(Long, Array[Double])]) =
      vs.iterator.map { case (id, v) => s"$id\t${v.map(fmt(_, 5)).mkString(",")}" }
    write(dir.resolve("corpus.tsv"), vecLines(corpus))
    write(dir.resolve("append.tsv"), vecLines(append))
    write(dir.resolve("probes.tsv"), vecLines(probes))
    write(dir.resolve("delete.txt"), delete.iterator.map(_.toString))
    Embeddings(corpus, append, delete, probes)
  }

  // ── document corpus (JSONL: doc_id, text, source, n_chars) ─────────

  final case class Docs(ids: Set[Long], exactGroups: Seq[Seq[Long]], pii: Seq[String],
                        poison: Path)

  private def jsonStr(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Random prose over a seeded vocabulary with stop-word density that
    * passes the quality gate; planted: exact-duplicate groups, near-
    * duplicate clusters (a long base text and variants one substituted
    * word away), one e-mail, URL or phone string in a quarter of the
    * distinct texts, and a few low-quality texts (one word repeated)
    * the gate must drop. The malformed JSONL line goes to its own
    * file, for the pipeline to land beside its input. */
  def docs(dir: Path, seed: Long, nBase: Int, nExactGroups: Int,
           nNearClusters: Int): Docs = {
    val r = rng(seed, 7L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(3000)(
      (1 to 3 + r.nextInt(6)).map(_ => letters.charAt(r.nextInt(26))).mkString)
    val stop = Array("the", "a", "and", "of", "to", "in")
    var piiSeq = 0
    val pii = Seq.newBuilder[String]
    def prose(): Array[String] = Array.fill(30 + r.nextInt(90))(
      if (r.nextDouble() < 0.15) stop(r.nextInt(stop.length)) else vocab(r.nextInt(vocab.length)))
    def withPii(words: Array[String]): String = {
      if (r.nextDouble() < 0.25) {
        piiSeq += 1
        val plant = r.nextInt(3) match {
          case 0 => s"user$piiSeq@mail${r.nextInt(90) + 10}.com"
          case 1 => s"https://site${r.nextInt(90) + 10}.org/p/$piiSeq"
          case _ => f"555-${r.nextInt(10000)}%04d-${r.nextInt(10000)}%04d"
        }
        pii += plant
        val pos = r.nextInt(words.length)
        (words.take(pos) ++ Array("contact", plant) ++ words.drop(pos)).mkString(" ")
      } else words.mkString(" ")
    }
    val texts = Array.newBuilder[String]
    val exact = Seq.newBuilder[Seq[Int]]
    var pos = 0
    def emit(t: String): Int = { texts += t; pos += 1; pos - 1 }
    for (_ <- 0 until nBase) {
      if (r.nextDouble() < 0.04) {
        val w = vocab(r.nextInt(vocab.length))
        emit(Array.fill(40)(w).mkString(" "))
      } else emit(withPii(prose()))
    }
    for (_ <- 0 until nExactGroups) {
      val t = withPii(prose())
      exact += (0 until 2 + r.nextInt(3)).map(_ => emit(t))
    }
    for (_ <- 0 until nNearClusters) {
      // long texts one substituted word apart: every pair of a cluster
      // is well above the near-dup threshold, so LSH finds them all
      // and each cluster is one component whatever the seed
      val base = Array.fill(100 + r.nextInt(20))(
        if (r.nextDouble() < 0.15) stop(r.nextInt(stop.length)) else vocab(r.nextInt(vocab.length)))
      for (m <- 0 until 2 + r.nextInt(4)) {
        val v = base.clone()
        if (m > 0) v(r.nextInt(v.length)) = vocab(r.nextInt(vocab.length))
        emit(v.mkString(" "))
      }
    }
    val all = texts.result()
    // ids are a seeded permutation, so planted copies are not adjacent
    val ids = {
      val a = (1L to all.length.toLong).toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val lines = all.indices.iterator.map { i =>
      s"""{"doc_id": ${ids(i)}, "text": ${jsonStr(all(i))}, "source": "src${ids(i) % 3}", """ +
        s""""n_chars": ${all(i).length}}"""
    }
    write(dir.resolve("docs.jsonl"), lines)
    val poison = dir.resolve("poison.txt")
    write(poison, Iterator("{\"doc_id\": -1, \"text\": unterminated"))
    Docs(ids.toSet, exact.result().map(_.map(ids)), pii.result(), poison)
  }
}
