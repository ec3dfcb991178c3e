package graft.core

/** Fixed-width unsigned integer reads and writes over byte arrays, big-
  * and little-endian: the one copy of the shift-and-mask arithmetic that
  * the payload walkers and their fixture builders share.
  *
  * Readers take `(array, offset)` and keep no cursor and check no bounds:
  * every walker owns its position and its bound checks, and the ORDER of
  * those checks is what decides `truncated` vs `malformed` — a stateful
  * cursor would have to impose one order on all of them. u32 and u64
  * reads come back as Long (u64 as the raw 64 bits).
  */
object Bytes {

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def u16be(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  def u24be(b: Array[Byte], i: Int): Int = (u8(b, i) << 16) | u16be(b, i + 1)
  def u32be(b: Array[Byte], i: Int): Long = (u8(b, i).toLong << 24) | u24be(b, i + 1)
  def u64be(b: Array[Byte], i: Int): Long = (u32be(b, i) << 32) | u32be(b, i + 4)

  def u16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  def u24le(b: Array[Byte], i: Int): Int = u16le(b, i) | (u8(b, i + 2) << 16)
  def u32le(b: Array[Byte], i: Int): Long = u24le(b, i) | (u8(b, i + 3).toLong << 24)
  def u64le(b: Array[Byte], i: Int): Long = u32le(b, i) | (u32le(b, i + 4) << 32)

  /** Byte order chosen by the data itself (TIFF's `II`/`MM`). */
  def u16(b: Array[Byte], i: Int, bigEndian: Boolean): Int =
    if (bigEndian) u16be(b, i) else u16le(b, i)
  def u32(b: Array[Byte], i: Int, bigEndian: Boolean): Long =
    if (bigEndian) u32be(b, i) else u32le(b, i)

  /** Writes the low `width` bytes of `v` at `off`. */
  def put(dst: Array[Byte], off: Int, v: Long, width: Int, bigEndian: Boolean): Unit = {
    var k = 0
    while (k < width) {
      dst(off + k) = (v >>> (8 * (if (bigEndian) width - 1 - k else k))).toByte
      k += 1
    }
  }

  private def encoded(v: Long, width: Int, bigEndian: Boolean): Array[Byte] = {
    val a = new Array[Byte](width)
    put(a, 0, v, width, bigEndian)
    a
  }

  def be16(v: Long): Array[Byte] = encoded(v, 2, bigEndian = true)
  def be24(v: Long): Array[Byte] = encoded(v, 3, bigEndian = true)
  def be32(v: Long): Array[Byte] = encoded(v, 4, bigEndian = true)
  def be64(v: Long): Array[Byte] = encoded(v, 8, bigEndian = true)

  def le16(v: Long): Array[Byte] = encoded(v, 2, bigEndian = false)
  def le24(v: Long): Array[Byte] = encoded(v, 3, bigEndian = false)
  def le32(v: Long): Array[Byte] = encoded(v, 4, bigEndian = false)
  def le64(v: Long): Array[Byte] = encoded(v, 8, bigEndian = false)
}
