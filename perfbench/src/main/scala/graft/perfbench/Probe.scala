package graft.perfbench

/** Fixed-work calibration probe, timed beside every run so a slow host
  * window shows as such: an ALU spin (integer mixing, no memory traffic)
  * and its memory-bandwidth twin (a streaming sum over a buffer far
  * larger than the last-level cache). Each reports the median of a few
  * repeats, in nanoseconds per unit of work.
  */
object Probe {

  final case class Result(aluNsPerOp: Double, memNsPerByte: Double)

  private val aluOps = 10000000L
  private val memWords = 32 * 1024 * 1024 / 8 // 32 MiB of longs
  private lazy val buf: Array[Long] = Array.tabulate(memWords)(_.toLong)

  @volatile private var sink: Long = 0L

  private def alu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < aluOps) { x = (x ^ (x >>> 31)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
    sink += x
    (System.nanoTime() - t0).toDouble / aluOps
  }

  private def mem(): Double = {
    val b = buf
    val t0 = System.nanoTime()
    var s = 0L
    var pass = 0
    while (pass < 2) {
      var i = 0
      while (i < b.length) { s += b(i); i += 1 }
      pass += 1
    }
    sink += s
    (System.nanoTime() - t0).toDouble / (2.0 * b.length * 8)
  }

  def run(repeats: Int = 3): Result = {
    alu(); mem() // JIT warm-up
    Result(Stats.median(Seq.fill(repeats)(alu())), Stats.median(Seq.fill(repeats)(mem())))
  }
}
