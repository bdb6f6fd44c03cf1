package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** What the generator wrote, per top-level prefix, in the terms the
  * manifest check compares: object count, total size, newest mtime (ms)
  * and an order-free digest of the key set (XOR of Spark's `xxhash64`). */
final case class PrefixStat(count: Long, bytes: Long, maxMtimeMs: Long, digest: Long) {
  def +(o: PrefixStat): PrefixStat = PrefixStat(count + o.count, bytes + o.bytes,
    math.max(maxMtimeMs, o.maxMtimeMs), digest ^ o.digest)
}

object PrefixStat {
  val Zero: PrefixStat = PrefixStat(0, 0, Long.MinValue, 0L)
  def of(key: String, size: Long, mtimeMs: Long): PrefixStat =
    PrefixStat(1, size, mtimeMs, XXH64.hashUTF8String(UTF8String.fromString(key), 42L))
}

/** A seeded object layout: relative keys with sizes and mtimes.
  *
  * The shape follows what a bucket inventory meets in practice: a skewed
  * fan-out of nested prefixes (a few large, many small), one flat
  * over-fanout prefix that holds `flatShare` of all objects directly
  * (the layout that makes the lister split one directory into slices),
  * log-normal object sizes from bytes to tens of MB, and modification
  * times spread over five years. The object count is fixed; the seed moves
  * the layout, sizes and times. */
final class Layout(val rel: Array[String], val sizes: Array[Long], val mtimes: Array[Long]) {
  def n: Int = rel.length
}

object Layout {
  val FlatPrefix = "flat"

  def generate(seed: Long, n: Int, tops: Int, flatShare: Double): Layout = {
    val rnd = new SplittableRandom(seed)
    // Zipf-like weights over the nested top prefixes
    val w = Array.tabulate(tops)(i => 1.0 / math.pow(i + 1, 1.1))
    val perm = (0 until tops).toArray
    for (i <- tops - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val cum = w.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    // each top prefix has 4 to 8 seeded leaf directories, 1 to 3 deep
    val leaves: Array[Array[String]] = Array.tabulate(tops) { t =>
      val k = 4 + rnd.nextInt(5)
      Array.tabulate(k) { j =>
        val depth = 1 + rnd.nextInt(3)
        (0 until depth).map(d => f"d$d${(j + d) % 7}%d${rnd.nextInt(4)}%d").mkString("/")
      }.distinct
    }
    val start = 1546300800000L // 2019-01-01
    val span = 5L * 365 * 24 * 3600 * 1000
    val rel = new Array[String](n)
    val sizes = new Array[Long](n)
    val mtimes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val name = f"o$i%07d.bin"
      rel(i) =
        if (rnd.nextDouble() < flatShare) s"$FlatPrefix/$name"
        else {
          val u = rnd.nextDouble() * total
          var t = 0
          while (cum(t) < u) t += 1
          val ls = leaves(t)
          val leaf = ls(math.min(ls.length - 1, (rnd.nextDouble() * rnd.nextDouble() * ls.length).toInt))
          f"p${perm(t)}%02d/$leaf/$name"
        }
      // log-normal size, median 32 KiB, capped at 64 MiB; some empty objects
      sizes(i) =
        if (rnd.nextInt(50) == 0) 0L
        else math.min(64L << 20, math.exp(math.log(32 * 1024) + 2.0 * gaussian(rnd)).toLong)
      mtimes(i) = start + (rnd.nextDouble() * span).toLong
      i += 1
    }
    new Layout(rel, sizes, mtimes)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(1e-12, r.nextDouble())
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Expected per-top-prefix stats when every key is `keyPrefix + rel`. */
  def expected(l: Layout, keyPrefix: String): Map[String, PrefixStat] = {
    val m = scala.collection.mutable.HashMap.empty[String, PrefixStat]
    var i = 0
    while (i < l.n) {
      val top = l.rel(i).substring(0, l.rel(i).indexOf('/'))
      m(top) = m.getOrElse(top, PrefixStat.Zero) + PrefixStat.of(keyPrefix + l.rel(i),
        l.sizes(i), l.mtimes(i))
      i += 1
    }
    m.toMap
  }

  /** Materializes the layout as a local tree of sparse files under `root`,
    * using `threads` writers. */
  def writeTree(l: Layout, root: Path, threads: Int): Unit = {
    l.rel.iterator.map(r => r.substring(0, r.lastIndexOf('/'))).toSet
      .foreach((d: String) => Files.createDirectories(root.resolve(d)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = t
            while (i < l.n) {
              val p = root.resolve(l.rel(i))
              val f = new java.io.RandomAccessFile(p.toFile, "rw")
              try f.setLength(l.sizes(i)) finally f.close()
              Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(l.mtimes(i)))
              i += threads
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Removes a tree written by [[writeTree]] (or a manifest directory). */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  def abs(p: String): Path = Paths.get(p).toAbsolutePath.normalize()
}
