package graft.ops

/** Deterministic, portable 64-bit hashing for the sketch operators
  * (MinHash, SimHash, LSH). Self-contained (no JVM hashCode, which is
  * unspecified across versions) so signatures are stable across runs,
  * Spark versions and cluster topologies. Also the one md5 of the
  * kernels whose hashes a SQL oracle recomputes with its own md5.
  */
object Hashing {

  /** 64-bit splitmix-style avalanche. */
  @inline def mix64(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a over UTF-8 bytes, then avalanched. */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** The i-th member of a deterministic hash family applied to x. */
  @inline def family(x: Long, i: Int): Long =
    mix64(x + 0x9e3779b97f4a7c15L * (i + 1))

  // MessageDigest is stateful and not thread-safe: one per task thread,
  // not one per row (`digest` resets it after each use)
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The 16-byte md5 of `bytes`. */
  def md5(bytes: Array[Byte]): Array[Byte] = md5Local.get().digest(bytes)

  private val hexDigits = "0123456789abcdef".toCharArray

  /** The first `hexChars` lowercase hex chars of the md5 of `s`'s UTF-8
    * bytes: 32 is SQL `md5(s)`, 16 is `substr(md5(s), 1, 16)` (the same
    * in Spark and DuckDB).
    */
  def md5Hex(s: String, hexChars: Int = 32): String = {
    val d = md5(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](hexChars)
    var i = 0
    while (i < hexChars) {
      val b = d(i / 2)
      out(i) = hexDigits(if (i % 2 == 0) (b >> 4) & 0xf else b & 0xf)
      i += 1
    }
    new String(out)
  }
}
