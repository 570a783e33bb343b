package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] holds the one session policy: no other source builds a
  * `SparkSession` of its own, so the policy cannot drift apart again. */
class SessionSpec extends AnyFunSuite {

  test("every SparkSession in src/main and src/test is built through graft.Session") {
    // whole-file match, so a builder split across lines is caught too
    val sites = Seq("src/main/scala", "src/test/scala").flatMap(root =>
        SparkSpec.sourceMatches(root, """SparkSession\s*\.\s*builder""")
          .map(m => s"$root/${m.file}"))
      .filterNot(_ == "src/main/scala/graft/Session.scala")
    assert(sites.isEmpty,
      s"SparkSession builders outside graft/Session.scala: ${sites.mkString(", ")}\n" +
        "Build the session with graft.Session.builder and chain the extra confs on it.")
  }
}
