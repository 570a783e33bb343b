package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] holds the one session policy: no other source builds a
  * `SparkSession` of its own, so the policy cannot drift apart again. */
class SessionSpec extends AnyFunSuite {

  test("every SparkSession in src/main and src/test is built through graft.Session") {
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory),
      s"source roots not found from ${new java.io.File(".").getCanonicalPath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // whole-file match, so a builder split across lines is caught too
    val pat = java.util.regex.Pattern.compile("""SparkSession\s*\.\s*builder""")
    val sites = roots.flatMap(walk).map(_.getPath)
      .filterNot(_ == "src/main/scala/graft/Session.scala")
      .filter { p =>
        val src = scala.io.Source.fromFile(p, "UTF-8")
        try pat.matcher(src.mkString).find() finally src.close()
      }
    assert(sites.isEmpty,
      s"SparkSession builders outside graft/Session.scala: ${sites.mkString(", ")}\n" +
        "Build the session with graft.Session.builder and chain the extra confs on it.")
  }
}
