package graft.cluster

/** Pluggable coarse-assignment distance — the graft of the reference's
  * `Dc`/`Dr` type parameters (/root/reference/src/index.jl:40-41, any
  * `Distances.PreMetric`). The partitioning/assignment machinery takes a
  * Distance; BM25 scoring is unaffected (the north_rule fixes it), so a
  * different metric changes only how docs group into cells.
  *
  * Lloyd's update stays the arithmetic mean under any metric here (for
  * cosine this is spherical-kmeans-without-renormalization — fine for a
  * partitioning signal; results stay exact because scoring never reads
  * the metric).
  */
trait Distance extends Serializable {
  def apply(a: Array[Double], b: Array[Double]): Double
}

object Distance {

  def name(d: Distance): String = d match {
    case SqEuclidean => "sqeuclidean"
    case Cosine => "cosine"
    case other => other.getClass.getName
  }

  /** Strict resolution: an unknown metric name must FAIL, not silently
    * fall back to SqEuclidean — a third metric's index would otherwise
    * cluster docs under its own metric but rank centroid probes under
    * SqEuclidean, degrading w<kc recall with no error.
    */
  def byName(s: String): Distance = s match {
    case "cosine" => Cosine
    case "sqeuclidean" => SqEuclidean
    case other => throw new IllegalArgumentException(
      s"unknown distance '$other': register it in Distance.byName/name " +
        "before persisting indexes built under it")
  }

  /** The reference's default (SqEuclidean(), index.jl:107). */
  object SqEuclidean extends Distance {
    def apply(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
  }

  /** Cosine distance 1 − cos(a,b); zero vectors map to distance 1. */
  object Cosine extends Distance {
    def apply(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }
}
