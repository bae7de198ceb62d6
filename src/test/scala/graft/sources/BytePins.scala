package graft.sources

import java.security.MessageDigest

/** SHA-256 of coded bytes, for the specs that pin a codec's exact
  * output: a roundtrip alone cannot see a bitstream change that the
  * encoder and decoder make together. */
object BytePins {
  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString
}
