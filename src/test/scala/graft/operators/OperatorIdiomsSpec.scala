package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards on the operator code under src/main (the query
  * registry under graft/queries excluded): each shared relational
  * idiom has one definition, and copy-pasted code does not grow back. */
class OperatorIdiomsSpec extends AnyFunSuite {

  /** Repeated 5-line windows left under src/main: `HashExpressions`'
    * `doGenCode` bodies, the chunk-ratio and stream-signature code that
    * `Dedup` and `EventStreams` share, and the argument checks of
    * `Graph`'s PageRank and label-propagation pairs. */
  private val MaxRepeatedWindows = 10

  /** Per .scala file, its code lines (trimmed, with their 1-based line
    * numbers): blank lines and comment lines are skipped. */
  private lazy val code: Seq[(Path, Seq[(Int, String)])] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter { p =>
        p.toString.endsWith(".scala") && !p.toString.contains("graft/queries/")
      }.toList.sortBy(_.toString)
      finally files.close()
    sources.map { p =>
      p -> Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (l, i) if l.trim.nonEmpty && !Seq("*", "//", "/**").exists(l.trim.startsWith) =>
          (i + 1, l.trim)
      }
    }
  }

  test("each operator idiom is written once under src/main") {
    val idioms = Seq(
      "day index" -> """unix_millis\(date_trunc\("day"""",
      "daily counts with gap fill" -> """crossJoin\(broadcast\(spine\)\)""",
      "a user's active days" ->
        """select\(col\("user_id"\),\s*(dayIndex\(|\(unix_millis\(date_trunc\("day")""",
      "survival life table" -> """withColumn\("n_risk"""",
      "exact 6dp cosine" -> """round\(cosine\(col\("query_vec"\)""",
      "exact cosine top-k tail" -> """k,\s*Seq\(col\("sim"\)\.desc,\s*col\("vec_id"\)\)\)""",
      "BM25 term score" -> """withColumn\("term_score"""",
      "contamination overlap tail" -> """withColumn\("contaminated"""",
      "per-score label counts" ->
        """groupBy\("s"\)\s*\.agg\(count\(lit\(1\)\)\.as\("n"\), sum\("y"\)\.as\("np"\)\)""",
      "score quantizer" -> """quantize\.map\(""",
      "windowed count and decimal sum" ->
        """sum\(col\("value"\)\.cast\("decimal\(18,6\)"\)\)\.cast\("double"\)\.as\("total_value"\)""",
      "per-coordinate means" ->
        """sum\(round\(col\("col"\), 9\)\.cast\("decimal\(28,9\)"\)\)\.as\("sx"\)""",
      "power-iteration normalize" -> """q9\(x / nrm\)""",
      "undirected simple edge list" -> """filter\(col\("a"\) =!= col\("b"\)\)\s*\.select\(least""",
      "media decode per partition" -> """select\("media_id", "payload"\)\.as\[""",
      "synthetic WAV writer" -> """AudioSystem\.write\(""",
      "synthetic PNG writer" -> """ImageIO\.write\(""")
    // `|` lines are stripMargin text, not code
    val texts = code.map { case (p, lines) =>
      (p, lines.filterNot(_._2.startsWith("|")))
    }
    for ((idiom, re) <- idioms) {
      val sites = texts.flatMap { case (p, lines) =>
        // lines joined so that an idiom may span a line break
        val starts = lines.scanLeft(0)(_ + _._2.length + 1)
        re.r.findAllMatchIn(lines.map(_._2).mkString("\n")).map { m =>
          s"$p:${lines(starts.lastIndexWhere(_ <= m.start))._1}"
        }
      }
      assert(sites.size == 1, s"$idiom written ${sites.size} times:\n${sites.mkString("\n")}")
    }
  }

  test("repeated 5-line code windows do not grow") {
    // a window is 5 consecutive code lines of at least 120 characters
    val sites = code.flatMap { case (p, lines) =>
      lines.sliding(5).filter(_.size == 5).map { w =>
        w.map(_._2).mkString("\n") -> s"$p:${w.head._1}"
      }.filter(_._1.length >= 120)
    }
    val repeated = sites.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" ")).toSeq.sorted
    assert(repeated.size <= MaxRepeatedWindows,
      s"${repeated.size} repeated windows (at most $MaxRepeatedWindows):\n" +
        repeated.mkString("\n"))
  }
}
