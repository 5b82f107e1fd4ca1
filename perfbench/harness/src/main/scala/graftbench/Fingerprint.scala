package graftbench

import java.io.{BufferedInputStream, DataInputStream, EOFException,
  FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The per-lang `sha_fingerprint` of the program's partition verdicts,
  * recomputed with the JDK's `MessageDigest` from the generated content:
  * the XOR over a lang's rows of the first 15 hex digits of
  * sha256(content). Input is the generator's dump of
  * `(u8 len, lang, u32 len, content)` records; output one JSON object.
  *
  * {{{ Fingerprint CONTENTS_FILE }}}
  */
object Fingerprint {
  def main(args: Array[String]): Unit = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(args(0)), 1 << 20))
    val sha = MessageDigest.getInstance("SHA-256")
    val fp = scala.collection.mutable.TreeMap.empty[String, Long]
    try while (true) {
      val lang = new Array[Byte](in.readUnsignedByte())
      in.readFully(lang)
      val text = new Array[Byte](in.readInt())
      in.readFully(text)
      // the first 15 hex digits are the digest's top 60 bits
      val top60 = java.nio.ByteBuffer.wrap(sha.digest(text)).getLong >>> 4
      val key = new String(lang, UTF_8)
      fp(key) = fp.getOrElse(key, 0L) ^ top60
    } catch { case _: EOFException => }
    finally in.close()
    println(Json.write(fp.toMap))
  }
}
