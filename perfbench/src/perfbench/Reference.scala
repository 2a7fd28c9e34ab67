package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Expected outputs, one `section<TAB>key<TAB>value` line each:
  * `suite` holds each query's row count, `fithic` each output file's
  * `rows:digest`. Recorded once with `run.py --record` at the commit
  * that defined the benchmark.
  */
final case class Reference(entries: Map[(String, String), String]) {
  def section(s: String): Map[String, String] =
    entries.collect { case ((`s`, k), v) => k -> v }
}

object Reference {
  def load(path: String): Reference = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Reference(Map.empty)
    else Reference(Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t", 3)
        require(f.length == 3, s"bad reference line: $l")
        (f(0), f(1)) -> f(2)
      }.toMap)
  }

  def lines(section: String, kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"$section\t$k\t$v\n" }.mkString
}
