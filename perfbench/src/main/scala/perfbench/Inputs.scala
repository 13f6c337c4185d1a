package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Reading the generated inputs and measuring files on disk. */
object Inputs {
  def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toIndexedSeq

  /** `key=value` lines written by the generator. */
  def props(path: String): Map[String, String] =
    lines(path).map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  /** The engine's BM25 tokenizer, applied on the driver to a question. */
  def terms(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq

  /** Bytes of all regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
      finally s.close()
    }
  }
}
