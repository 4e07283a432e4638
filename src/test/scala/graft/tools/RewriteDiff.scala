package graft.tools

import graft.sqlfront.ChSql

import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Prints `ChSql.rewrite` of every text in a corpus, so that two checkouts
  * of the dialect front-end can be compared text by text:
  *   python3 tools/rewrite_corpus.py corpus.txt
  *   sbt "Test/runMain graft.tools.RewriteDiff corpus.txt before.txt"  (one checkout)
  *   sbt "Test/runMain graft.tools.RewriteDiff corpus.txt after.txt"   (the other)
  *   diff before.txt after.txt
  * The corpus holds one text per line, `\\` and `\n` escaped (the format
  * `tools/rewrite_corpus.py` writes). Each output line is the text's
  * line number, a tab, then the rewrite in the same escaping, or
  * `ERROR <exception class>: <message>` when the rewrite throws. Each
  * text is rewritten twice; when the two results differ (`now()`,
  * `uptime()`, generated UUIDs) the line is marked `NONDET`, so such a
  * text shows in a diff as expected noise rather than being hidden. */
object RewriteDiff {
  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        sb.append(if (s.charAt(i + 1) == 'n') '\n' else s.charAt(i + 1)); i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def escape(s: String): String = s.replace("\\", "\\\\").replace("\n", "\\n")

  private def rewrite(text: String): String =
    try escape(ChSql.rewrite(text))
    catch { case e: Exception => s"ERROR ${e.getClass.getName}: ${escape(String.valueOf(e.getMessage))}" }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: RewriteDiff <corpus> <out>")
    val texts = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala.map(unescape)
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(args(1)), UTF_8))
    var nondet = 0; var errors = 0
    try for ((text, i) <- texts.zipWithIndex) {
      val a = rewrite(text)
      val tag = if (a == rewrite(text)) "" else { nondet += 1; "NONDET " }
      if (a.startsWith("ERROR ")) errors += 1
      out.println(s"${i + 1}\t$tag$a")
    } finally out.close()
    println(s"${texts.length} texts, $errors errors, $nondet nondeterministic -> ${args(1)}")
  }
}
