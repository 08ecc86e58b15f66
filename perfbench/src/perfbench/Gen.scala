package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption}

/** Seeded input generator. Every coordinate, edge end and noise flag is a
  * hash of (seed, stream, index, component), so one seed always gives the
  * same inputs and the program under test only ever sees the arrays,
  * DataFrames or files built from them. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long, j: Long): Long =
    mix(mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i) + j)

  /** Uniform double in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long, j: Long): Double =
    (hash(seed, stream, i, j) >>> 11) * (1.0 / (1L << 53))

  /** Points in planted boxes: `boxes` boxes of half-width `half`, each
    * holding `perBox` points (the density is fixed by `perBox`, `half` and
    * `dims`), plus a `noise` share of points uniform over the whole domain.
    * Box centres step 8 half-widths apart along dim 0 (so boxes never
    * touch) and are uniform over [0, 8·half) in every other dim. */
  final case class Blobs(boxes: Int, perBox: Int, dims: Int, half: Double,
      noise: Double) {
    val clustered: Int = boxes * perBox
    val n: Int = clustered + math.round(clustered * noise / (1 - noise)).toInt
  }

  def blobs(seed: Long, spec: Blobs): Array[Array[Float]] = {
    val h = spec.half
    val width = 8 * h
    val centres = Array.tabulate(spec.boxes, spec.dims) { (b, j) =>
      if (j == 0) b * width + width / 2
      else h + unit(seed, 1, b, j) * (width - 2 * h)
    }
    // noise spans the boxes' bounding region, padded by one half-width
    val lo = Array.tabulate(spec.dims)(_ => -h)
    val hi = Array.tabulate(spec.dims)(j =>
      if (j == 0) spec.boxes * width + h else width + h)
    Array.tabulate(spec.n) { i =>
      if (i < spec.clustered) {
        val c = centres(i / spec.perBox)
        Array.tabulate(spec.dims)(j =>
          (c(j) + (2 * unit(seed, 2, i, j) - 1) * h).toFloat)
      } else
        Array.tabulate(spec.dims)(j =>
          (lo(j) + unit(seed, 3, i, j) * (hi(j) - lo(j))).toFloat)
    }
  }

  /** Hub-skewed directed edges over `nodes` nodes: sources uniform,
    * destinations drawn as floor(nodes·u³), so low ids are hubs. */
  def edges(seed: Long, count: Int, nodes: Int): (Array[Long], Array[Long]) = {
    val src = Array.tabulate(count)(i =>
      (unit(seed, 4, i, 0) * nodes).toLong)
    val dst = Array.tabulate(count) { i =>
      val u = unit(seed, 5, i, 0)
      (u * u * u * nodes).toLong
    }
    (src, dst)
  }

  /** Write points in the reference binary layout: little-endian
    * `(n: int32, dims: int32)` then row-major float32. */
  def writeBinary(points: Array[Array[Float]], path: Path): Long = {
    val dims = if (points.isEmpty) 0 else points(0).length
    val buf = ByteBuffer.allocate(8 + points.length * dims * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(points.length).putInt(dims)
    points.foreach(_.foreach(buf.putFloat))
    buf.flip()
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try while (buf.hasRemaining) ch.write(buf) finally ch.close()
    buf.limit().toLong
  }
}
