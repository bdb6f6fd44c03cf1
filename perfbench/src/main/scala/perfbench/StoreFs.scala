package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Read-only object-store double for the `manifest_remote` workload,
  * served under the `benchstore://` scheme.
  *
  * It models the regime the reference tool lives in: a flat, sorted key
  * space listed in 1 000-key pages, where every call pays a fixed
  * round-trip latency. 503 "Slow Down" faults land only on the calls the
  * program wraps in its retry budget: stat, the first page of a directory
  * LIST, and the first page of a recursive listing (the stream open). Every
  * `faultEvery`-th first attempt of such a call fails, counted from an
  * offset the seed sets, so each build meets the same number of faults.
  * Later pages of an open stream never fail, because a stream that dies
  * mid-page is only recoverable by a task retry, which `local[N]` does not
  * make. No call fails twice in a row, so every fault is recoverable within
  * the program's three attempts.
  */
class StoreFs extends FileSystem {
  private var fsUri: URI = _
  override def getScheme: String = StoreFs.Scheme
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    setConf(conf)
  }
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = new Path(fsUri.toString + "/")
  override def setWorkingDirectory(dir: Path): Unit = ()

  private def st = StoreFs.state
  private def qualify(key: String): Path = new Path(fsUri.toString + key)
  private def file(i: Int): LocatedFileStatus = {
    val s = st
    new LocatedFileStatus(new FileStatus(s.sizes(i), false, 1, 64L << 20, s.mtimes(i),
      qualify(s.keys(i))), null)
  }
  private def dir(key: String): FileStatus = new FileStatus(0, true, 1, 64L << 20, 0L, qualify(key))
  private def dirKey(f: Path): String = {
    val p = f.toUri.getPath
    if (p.isEmpty || p == "/") "/" else if (p.endsWith("/")) p else p + "/"
  }

  override def getFileStatus(f: Path): FileStatus = {
    val p = f.toUri.getPath
    StoreFs.call("stat", p, retried = true)
    val s = st
    val i = java.util.Arrays.binarySearch(s.keys.asInstanceOf[Array[AnyRef]], p)
    if (i >= 0) file(i)
    else {
      val d = dirKey(f)
      val j = s.lowerBound(d)
      if (d == "/" || (j < s.keys.length && s.keys(j).startsWith(d))) dir(p)
      else throw new java.io.FileNotFoundException(s"benchstore: no such key $p")
    }
  }

  /** Delimited LIST: the direct children of a prefix, files and common
    * prefixes, one call per 1 000 entries. */
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    val d = dirKey(f)
    val s = st
    new RemoteIterator[FileStatus] {
      private var cursor = s.lowerBound(d)
      private var page = Vector.empty[FileStatus]
      private var first = true
      private def fill(): Unit =
        if (page.isEmpty && cursor < s.keys.length && s.keys(cursor).startsWith(d)) {
          StoreFs.call("list", d, retried = first)
          first = false
          val b = Vector.newBuilder[FileStatus]
          var n = 0
          while (n < StoreFs.PageSize && cursor < s.keys.length && s.keys(cursor).startsWith(d)) {
            val rest = s.keys(cursor).substring(d.length)
            val slash = rest.indexOf('/')
            if (slash < 0) { b += file(cursor); cursor += 1 }
            else {
              val sub = d + rest.substring(0, slash + 1)
              b += dir(sub.dropRight(1))
              cursor = s.lowerBound(sub + "\uffff")
            }
            n += 1
          }
          page = b.result()
          StoreFs.keysReturned.addAndGet(page.size)
        }
      override def hasNext: Boolean = { fill(); page.nonEmpty }
      override def next(): FileStatus = {
        if (!hasNext) throw new java.util.NoSuchElementException
        val h = page.head
        page = page.tail
        h
      }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val it = listStatusIterator(f)
    val b = Array.newBuilder[FileStatus]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Undelimited LIST (ListObjectsV2 without a delimiter): every key under
    * the prefix, 1 000 per call. The first page is fetched by this call
    * itself, so the open pays (and may fault on) one round trip. */
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    require(recursive, "benchstore serves recursive listings only")
    val d = dirKey(f)
    val s = st
    val it = new RemoteIterator[LocatedFileStatus] {
      private var cursor = s.lowerBound(d)
      private var end = cursor
      private var first = true
      def fetch(): Unit =
        if (end == cursor && cursor < s.keys.length && s.keys(cursor).startsWith(d)) {
          StoreFs.call("listFiles", d, retried = first)
          first = false
          while (end - cursor < StoreFs.PageSize && end < s.keys.length &&
            s.keys(end).startsWith(d)) end += 1
          StoreFs.keysReturned.addAndGet(end - cursor)
        }
      override def hasNext: Boolean = { fetch(); cursor < end }
      override def next(): LocatedFileStatus = {
        if (!hasNext) throw new java.util.NoSuchElementException
        val r = file(cursor)
        cursor += 1
        r
      }
    }
    it.fetch()
    it
  }

  private def readOnly = new UnsupportedOperationException("benchstore is read-only")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = throw readOnly
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = throw readOnly
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw readOnly
  override def rename(src: Path, dst: Path): Boolean = throw readOnly
  override def delete(f: Path, recursive: Boolean): Boolean = throw readOnly
  override def mkdirs(f: Path, permission: FsPermission): Boolean = throw readOnly
}

object StoreFs {
  val Scheme = "benchstore"
  val PageSize = 1000

  /** The served key space: sorted keys with parallel size and mtime arrays. */
  final class State(val keys: Array[String], val sizes: Array[Long], val mtimes: Array[Long],
                    val latencyMs: Long, val faultEvery: Int, val seed: Long) {
    def lowerBound(k: String): Int = {
      var lo = 0
      var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid).compareTo(k) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  @volatile var state: State = new State(Array.empty, Array.empty, Array.empty, 0L, 0, 0L)

  val listCalls = new AtomicLong(0)
  val keysReturned = new AtomicLong(0)
  val waitNs = new AtomicLong(0)
  val errorsInjected = new AtomicLong(0)
  val retriesSeen = new AtomicLong(0)
  private val firstAttempts = new AtomicLong(0)
  private val lastFailed = ConcurrentHashMap.newKeySet[String]()

  def install(s: State): Unit = {
    state = s
    firstAttempts.set(0); lastFailed.clear()
  }

  final case class Counters(listCalls: Long, keysReturned: Long, waitS: Double,
                            errorsInjected: Long, retriesSeen: Long) {
    def -(o: Counters): Counters = Counters(listCalls - o.listCalls,
      keysReturned - o.keysReturned, waitS - o.waitS, errorsInjected - o.errorsInjected,
      retriesSeen - o.retriesSeen)
  }
  def counters(): Counters = Counters(listCalls.get, keysReturned.get,
    waitNs.get / 1e9, errorsInjected.get, retriesSeen.get)

  /** One round trip: pay the latency, then maybe answer 503. */
  private[perfbench] def call(op: String, key: String, retried: Boolean): Unit = {
    val s = state
    if (op != "stat") listCalls.incrementAndGet()
    val t0 = System.nanoTime()
    if (s.latencyMs > 0) Thread.sleep(s.latencyMs)
    waitNs.addAndGet(System.nanoTime() - t0)
    if (retried) {
      // a retry is the same call again from the same thread (the retry
      // loop sleeps and re-issues in place)
      val caller = s"$op $key ${Thread.currentThread().getId}"
      if (lastFailed.remove(caller)) retriesSeen.incrementAndGet()
      else if (s.faultEvery > 0 &&
        (firstAttempts.incrementAndGet() + s.seed) % s.faultEvery == 0) {
        lastFailed.add(caller)
        errorsInjected.incrementAndGet()
        throw new java.io.IOException(s"benchstore: 503 Slow Down on $op $key (injected)")
      }
    }
  }
}
