package graft.etl

import java.security.MessageDigest

/** File fingerprint (SURVEY A9): the md5 hex of a file's bytes, the
  * reference's audit fingerprint (`main_ingest.py:39-50`). The ingest
  * computes it on the same pass over the bytes as the parse
  * ([[IngestPipeline.ingestDirectory]]).
  */
object NemsisXmlReader {

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
}
