package graft.frontier

import java.security.MessageDigest
import scala.collection.mutable

import graft.schema.Span

/** Content signatures for change detection and dedup.
  *
  * Two signers, mirroring the reference's Signature implementations:
  *  - Md5Signer  ≈ MD5Signature (reference/src/java/org/apache/nutch/crawl/MD5Signature.java:30-39)
  *  - TextProfileSigner ≈ TextProfileSignature
  *    (reference/src/java/org/apache/nutch/crawl/TextProfileSignature.java:67-189):
  *    tokenize letters+digits lowercase, drop tokens shorter than minToken,
  *    count, quantize counts, drop below-quant tokens, sort by (freq desc,
  *    token asc), join "token count" with newline, MD5.
  */
trait Signer extends Serializable {
  def sign(text: String): Array[Byte]
  final def signSpans(spans: Seq[Span]): Array[Byte] =
    sign(spans.iterator.filter(_.kind == "text").map(_.text).mkString(" "))
}

object Signer {
  /** The signer `cfg.signer` names: "textprofile" or "md5". */
  def forConfig(cfg: CrawlConfig): Signer = {
    require(cfg.signer == "textprofile" || cfg.signer == "md5",
      s"unknown signer '${cfg.signer}' (textprofile | md5)")
    if (cfg.signer == "md5") Md5Signer else TextProfileSigner()
  }
}

object Md5Signer extends Signer {
  override def sign(text: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(
      (if (text == null) "" else text).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

case class TextProfileSigner(minTokenLen: Int = 2, quantRate: Float = 0.01f) extends Signer {
  override def sign(text: String): Array[Byte] = {
    val tokens = mutable.LinkedHashMap.empty[String, Int]
    if (text != null) {
      val sb = new StringBuilder
      var i = 0
      def flush(): Unit = {
        if (sb.length > minTokenLen) {
          val t = sb.toString
          tokens.update(t, tokens.getOrElse(t, 0) + 1)
        }
        sb.clear()
      }
      while (i < text.length) {
        val c = Character.toLowerCase(text.charAt(i))
        if (Character.isLetterOrDigit(c)) sb.append(c) else flush()
        i += 1
      }
      flush()
    }
    val maxFreq = if (tokens.isEmpty) 0 else tokens.valuesIterator.max
    var quant = math.round(maxFreq * quantRate)
    if (quant < 2) quant = if (maxFreq > 1) 2 else 1
    val profile = tokens.iterator
      .map { case (t, f) => (t, (f / quant) * quant) }
      .filter(_._2 >= quant)
      .toSeq
      .sortBy { case (t, f) => (-f, t) }
      .map { case (t, f) => s"$t $f" }
      .mkString("\n")
    MessageDigest.getInstance("MD5").digest(profile.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
