package graftbench

/** Seeded inputs. The corpus is clustered with low intrinsic
  * dimension: each of `clusters` centers (uniform in [-1, 1]^dim) owns
  * a random `rank`-dimensional basis, and a row is its center plus a
  * Gaussian combination of that basis plus small isotropic noise. IVF
  * cells therefore have structure, and a row's nearest neighbours are
  * meaningfully nearer than the rest of its cluster, so recall measures
  * the index rather than noise. Every generator is a pure function of
  * (seed, stream, index), so the same seed gives the same inputs
  * whatever order the stages ask for them in. */
final class Corpus(val seed: Long, val shape: Shape) {
  private val rank = 6
  private def rng(stream: Long, i: Long) = {
    // SplitMix64 finalizer: neighbouring (seed, stream, i) keys must not
    // give correlated java.util.Random streams
    var z = seed * 0x9E3779B97F4A7C15L + (stream << 40) + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new java.util.Random(z ^ (z >>> 31))
  }

  private val centers: Array[Array[Float]] = Array.tabulate(shape.clusters) { c =>
    val r = rng(1L, c.toLong)
    Array.fill(shape.dim)(r.nextFloat() * 2f - 1f)
  }
  private val bases: Array[Array[Array[Float]]] = Array.tabulate(shape.clusters) { c =>
    val r = rng(5L, c.toLong)
    Array.fill(rank, shape.dim)((r.nextGaussian() * shape.spread).toFloat)
  }

  private def point(r: java.util.Random): Array[Float] = {
    val c = r.nextInt(centers.length)
    val v = centers(c).clone()
    var j = 0
    while (j < rank) {
      val z = r.nextGaussian().toFloat
      val b = bases(c)(j)
      var i = 0
      while (i < v.length) { v(i) += z * b(i); i += 1 }
      j += 1
    }
    var i = 0
    while (i < v.length) { v(i) += (r.nextGaussian() * shape.noise).toFloat; i += 1 }
    v
  }

  /** Vector of corpus row `id` (base rows and appended batches alike). */
  def vector(id: Long): Array[Float] = point(rng(2L, id))

  val base: Array[Array[Float]] = Array.tabulate(shape.rows)(i => vector(i.toLong))

  /** Query stream drawn from the corpus distribution. */
  def query(i: Int): Array[Double] = point(rng(3L, i.toLong)).map(_.toDouble)

  /** Skewed query stream for the residency tier: query `i` of round
    * `round` draws its hotspot Zipf over that round's `hotspots` fixed
    * query points, so a few hotspots (and the cells they probe) take
    * most of the traffic and the tail keeps missing a cache smaller
    * than the working set. Each round has its own hotspots, so a run's
    * latencies do not hang on the cells of one hotspot. The skew (10
    * hotspots, exponent 1.6) is an assumption, not taken from a
    * measured trace; each run reports the working set it produces. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(shape.hotspots)(h => math.pow(h + 1, -shape.zipf))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  def skewedQuery(round: Int, i: Int): Array[Double] = {
    val r = rng(4L, round.toLong << 32 | i)
    val u = r.nextDouble()
    val h = math.min(java.util.Arrays.binarySearch(zipfCdf, u) match {
      case x if x >= 0 => x
      case x => -x - 1
    }, shape.hotspots - 1)
    query(1000000 + round * shape.hotspots + h).map(_ + r.nextGaussian() * shape.noise)
  }

  /** Exact top-k ids of `q` over the base rows by brute force, ties by id. */
  def exactTopK(q: Array[Double], k: Int): Array[Long] = {
    val d = base.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { val x = q(i) - v(i); s += x * x; i += 1 }
      s
    }
    d.indices.sortBy(i => (d(i), i)).take(k).map(_.toLong).toArray
  }
}

/** Index and workload shape. P, D, C, nprobe and k follow the paper's
  * reference configuration; rows and dims are shrunk so a run fits the
  * benchmark's time budget. */
final case class Shape(rows: Int, dim: Int, parts: Int, divs: Int,
                       codes: Int, nprobe: Int, k: Int, maxIter: Int,
                       clusters: Int, spread: Double, noise: Double,
                       recallQueries: Int, serveQueries: Int,
                       appendRows: Int, deleteRows: Int, batchQueries: Int,
                       lazyQueries: Int, hotspots: Int, zipf: Double)

object Shape {
  val standard: Shape = Shape(rows = 6000, dim = 48, parts = 100,
    divs = 12, codes = 256, nprobe = 5, k = 10, maxIter = 8,
    clusters = 50, spread = 0.1, noise = 0.03, recallQueries = 100,
    serveQueries = 512, appendRows = 500, deleteRows = 200,
    batchQueries = 64, lazyQueries = 100, hotspots = 10, zipf = 1.6)

  val toy: Shape = Shape(rows = 1500, dim = 24, parts = 16, divs = 4,
    codes = 16, nprobe = 3, k = 10, maxIter = 4, clusters = 8,
    spread = 0.1, noise = 0.03, recallQueries = 20, serveQueries = 64,
    appendRows = 100, deleteRows = 40, batchQueries = 8, lazyQueries = 40,
    hotspots = 8, zipf = 1.6)
}
