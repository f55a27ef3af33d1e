package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

/** The fixed input set the encoder byte pins run over, and the digest
  * they assert: each encoder's output bytes over [[inputs]], SHA-256'd
  * in order with each output's length first. The digests were recorded
  * from the encoders as they stood before the prefix-code and tree
  * builds moved into [[Bits]], so a change that moves one output byte
  * shows here.
  *
  * [[skewed]] makes the deflate, zstd and Brotli encoders run their
  * length-limit loops: deflate's literal/length code at 15 bits, zstd's
  * literals at 11 and Brotli's code-length code at 5. bzip2's loop at
  * 20 bits needs a block whose move-to-front histogram is Fibonacci-like
  * over 21 levels, which no input here reaches; BitsSpec runs
  * `Bzip2.limitedLengths` through that loop against the old tree build.
  */
object EncoderPins {

  /** `n` bytes drawn so that byte k has probability (1 − q)·q^k. */
  def geometric(n: Int, q: Double, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    Array.fill(n) { var k = 0; while (k < 120 && r.nextDouble() < q) k += 1; k.toByte }
  }

  val skewed: Array[Byte] = geometric(200000, 0.6, 7)

  val inputs: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    "a".getBytes(UTF_8),
    "hello hello hello, pinned encoder bytes".getBytes(UTF_8),
    ("the quick brown fox jumps over the lazy dog; " * 400).getBytes(UTF_8),
    { val r = new java.util.Random(11); Array.fill(5000)(r.nextInt(256).toByte) },
    { val r = new java.util.Random(13); Array.fill(20000)(('a' + r.nextInt(6)).toByte) },
    skewed)

  def digest(outputs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outputs.foreach { o =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(o.length).array())
      md.update(o)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
