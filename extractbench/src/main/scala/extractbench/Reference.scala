package extractbench

import java.util.Arrays
import java.util.zip.{CRC32, Deflater, Inflater}

/** A fixed amount of work that uses no engine code: on each of `threads`
  * threads, [[Reference.Units]] times, sort a copy of a fixed int array,
  * inflate a fixed deflated text and CRC the result. It allocates nothing
  * once built, so the heap the engine left behind does not change its
  * time.
  *
  * The host this benchmark runs on is shared: the speed of its cores
  * drifts by tens of percent over minutes, in CPU time as in wall time.
  * [[run]] is timed next to every timed operation; the operation's time
  * over the reference's (in the unit `ref`) keeps the engine's speed and
  * drops the host's.
  */
final class Reference(threads: Int) {
  import Reference._

  private val ints: Array[Int] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(SortInts) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x.toInt
    }
  }
  private val text: Array[Byte] = {
    val words = Array("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "join", "filter", "group", "hash", "sort")
    val sb = new java.lang.StringBuilder
    var i = 0
    while (sb.length < TextBytes) {
      sb.append(words((i * 7 + i / 11) % words.length)).append(if (i % 13 == 0) '\n' else ' ')
      i += 1
    }
    sb.substring(0, TextBytes).getBytes("UTF-8")
  }
  private val deflated: Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(text); d.finish()
    val buf = new Array[Byte](text.length * 2)
    val n = d.deflate(buf)
    d.end()
    Arrays.copyOf(buf, n)
  }

  private final class Worker {
    val sortBuf = new Array[Int](SortInts)
    val out = new Array[Byte](TextBytes)
    val inflater = new Inflater()
    val crc = new CRC32()
    var check = 0L
    var ns = 0L
    def unit(): Unit = {
      System.arraycopy(ints, 0, sortBuf, 0, SortInts)
      Arrays.sort(sortBuf)
      inflater.reset(); inflater.setInput(deflated)
      val n = inflater.inflate(out)
      crc.reset(); crc.update(out, 0, n)
      check += crc.getValue + sortBuf(SortInts / 2) + n
    }
  }
  private val workers = Array.fill(threads)(new Worker)

  /** What every [[run]] must leave in each worker: the work is fixed. */
  private lazy val expected: Long = {
    val w = new Worker
    (1 to Units).foreach(_ => w.unit())
    w.check
  }

  /** Seconds of one reference run: [[Units]] units on each thread, all
    * threads at once; the median over the threads of the wall time each
    * took from its own start, so that one thread started late or
    * preempted once does not set the figure. */
  def run(): Double = {
    val ts = workers.map { w =>
      val t = new Thread(() => {
        val t0 = System.nanoTime()
        w.check = 0L
        var k = 0
        while (k < Units) { w.unit(); k += 1 }
        w.ns = System.nanoTime() - t0
      })
      t.start(); t
    }
    ts.foreach(_.join())
    workers.foreach(w => require(w.check == expected, "reference work gave a wrong result"))
    val ns = workers.map(_.ns).sorted
    (if (threads % 2 == 1) ns(threads / 2) else (ns(threads / 2 - 1) + ns(threads / 2)) / 2) / 1e9
  }
}

object Reference {
  val SortInts = 1 << 15
  val TextBytes = 1 << 18
  /** Units per thread in one run: about 0.15 s on a 4-core host. */
  val Units = 32
}
