package perfbench

import scala.util.Random

/** Seeded input generators. The same seed always yields the same inputs;
  * nothing here reads a file.
  *
  * Vectors follow the shape of `graft.index.ManifoldData` (32-dim latent
  * gaussians mapped through one fixed 768-wide projection, plus small
  * ambient noise), with the run seed XORed into every id so each seed
  * draws a disjoint corpus. */
object Gen {
  val Dim = 768
  val Latent = 32
  val Ambient = 0.05f

  private def gaussians(seed: Long, n: Int): Array[Float] = {
    val r = new Random(seed)
    Array.fill(n)(r.nextGaussian().toFloat)
  }

  /** Fixed latent→ambient projection (the manifold), rows scaled ~unit. */
  private lazy val proj: Array[Array[Float]] = {
    val s = (1.0 / math.sqrt(Latent)).toFloat
    Array.tabulate(Latent)(j => gaussians(2000L + j, Dim).map(_ * s))
  }

  /** splitmix64 finaliser: spreads a seed over all 64 bits. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def embed(latentSeed: Long, ambientSeed: Long): Array[Float] = {
    val z = gaussians(latentSeed, Latent)
    val out = gaussians(ambientSeed, Dim)
    var i = 0
    while (i < Dim) { out(i) *= Ambient; i += 1 }
    var j = 0
    while (j < Latent) {
      val zj = z(j); val row = proj(j)
      i = 0
      while (i < Dim) { out(i) += zj * row(i); i += 1 }
      j += 1
    }
    out
  }

  /** Corpus vector `id` of a seed: ManifoldData.vectorFor with the seed
    * mixed into the id. */
  def vector(seed: Long, id: Long): Array[Float] = {
    val key = id ^ mix(seed)
    embed(0x9E3779B97F4A7C15L ^ key, 0x5851F42D4C957F2DL ^ key)
  }

  /** Held-out query `q` from the same distribution (disjoint key space). */
  def query(seed: Long, q: Long): Array[Float] = {
    val key = (q + 1000000000L) ^ mix(seed ^ 0x7F4A7C159E3779B9L)
    embed(0x7F4A7C159E3779B9L ^ key, 0x4C957F2D5851F42DL ^ key)
  }

  /** Insert-order key of a randomly ordered corpus: a seeded hash of the id. */
  def randomOrder(seed: Long, id: Long): Long = mix(id ^ mix(seed + 17L)) >>> 1

  /** Near-duplicate text corpus: `chains` planted chains of 2..9 docs,
    * each doc one word away from the previous one (so the chain's ends
    * can be far apart and only the cluster step joins them), plus
    * `singletons` unrelated docs. Doc ids are a seeded permutation.
    * Returns the docs and the planted clusters (each a sorted id array). */
  final case class TextCorpus(docs: Array[(Long, String)], clusters: Array[Array[Long]])

  def textCorpus(seed: Long, chains: Int, singletons: Int, words: Int): TextCorpus = {
    val r = new Random(mix(seed ^ 0x1234567L))
    def word(): String = "w" + Integer.toString(r.nextInt(1 << 20), 36)
    // chain lengths cycle through 2..9, so every seed has the same corpus
    // size and the same longest chain (the cluster step's round count)
    val chainDocs = Array.tabulate(chains) { c =>
      val len = 2 + c % 8
      var cur = Array.fill(words)(word())
      Array.tabulate(len) { i =>
        if (i > 0) { cur = cur.clone(); cur(r.nextInt(words)) = word() }
        cur.mkString(" ")
      }
    }
    val singles = Array.fill(singletons)(Array.fill(words)(word()).mkString(" "))
    val total = chainDocs.map(_.length).sum + singletons
    val ids = r.shuffle((0L until total.toLong).toVector).toArray
    var next = 0
    val clusters = chainDocs.map { c =>
      val cIds = c.map { _ => val id = ids(next); next += 1; id }
      cIds
    }
    val docs = chainDocs.zip(clusters).flatMap { case (c, cIds) => cIds.zip(c) } ++
      singles.map { t => val id = ids(next); next += 1; (id, t) }
    TextCorpus(docs.sortBy(_._1), clusters.map(_.sorted))
  }
}
