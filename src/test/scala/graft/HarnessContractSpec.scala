package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/**
 * Guards the driver contract that round 1 broke: every declared query must
 * have a DuckDB oracle (a query without one silently downgrades to a
 * rows-only check), and query names must be unique and well-formed.
 * Also guards the harness surface: one session builder and a fixed set of
 * entry-point mains, so one-off profiler and scratch mains cannot return.
 */
class HarnessContractSpec extends GraftSuite {

  private def scalaSources(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val dir = new File(root)
    assert(dir.isDirectory, s"$root not found from ${new File(".").getAbsolutePath}")
    walk(dir)
  }

  /** Source text with comments and the contents of string and character
    * literals blanked out, so only code is searched. */
  private def code(f: File): String = {
    val src = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val out = new StringBuilder
    var i = 0
    def skipTo(end: Int, blank: String): Unit = { out ++= blank; i = math.min(end, src.length) }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        skipTo(if (e < 0) src.length else e, "")
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        skipTo(if (e < 0) src.length else e + 2, " ")
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        skipTo(if (e < 0) src.length else e + 3, "\"\"")
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        skipTo(j + 1, "\"\"")
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val e = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        skipTo(if (e < 0) src.length else e + 1, "' '")
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("SparkSession.builder is called only inside GraftSession") {
    val files = (scalaSources("src/main/scala") ++ scalaSources("src/test/scala"))
      .map(f => f -> code(f))
    val builders = files.collect { case (f, c) if c.contains("SparkSession.builder") => f.getPath }
    val home = files.collect { case (f, c) if c.contains("object GraftSession") => f.getPath }
    assert(home.size == 1, s"GraftSession defined in: $home")
    assert(builders == home, s"SparkSession.builder outside GraftSession: ${builders.diff(home)}")
  }

  test("the objects defining def main are exactly the harness entry points") {
    val mainObjects = scalaSources("src/main/scala").flatMap { f =>
      val c = code(f)
      val objects = "\\bobject\\s+(\\w+)".r.findAllMatchIn(c).map(m => m.start -> m.group(1)).toSeq
      "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(c).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse(f.getPath)
      }
    }
    assert(mainObjects.sorted == Seq("Bench", "PlanAudit", "PlanDigest", "ScaleSmoke", "Verify"))
  }

  test("queries and oracleSql cover exactly the same names") {
    // the OPQ oracles embed a runtime-fitted rotation, so enumerating
    // the oracle map needs a live session (exactly as in Verify, which
    // dumps it after running the queries on one)
    spark
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("query names are well-formed and unique") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")))
    assert(names.distinct.size == names.size)
  }
}
