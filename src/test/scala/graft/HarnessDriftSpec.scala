package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming harness is declared once, in SparkEntry's `scratch`,
  * `fileStream` and `memorySink`: a query lambda that makes or deletes its
  * own directory, or builds its own file source or memory sink, can leak
  * the directory, return a frame over deleted files, or drift to another
  * glob or trigger. Source scan over the same per-lambda chunks as
  * [[DeterminismBoundarySpec]]. */
class HarnessDriftSpec extends AnyFunSuite {

  private val Forbidden =
    Seq("createTempDirectory", "deleteRecursively(", "\"maxFilesPerTrigger\"", "format(\"memory\")")

  test("no query lambda builds its own temp dir, file stream or memory sink") {
    val chunks = DeterminismBoundarySpec.queryLambdas
    assert(chunks.nonEmpty, "no query entries found — did SparkEntry move?")
    val offenders = for {
      (name, body) <- chunks
      pattern <- Forbidden if body.contains(pattern)
    } yield s"$name: $pattern"
    assert(offenders.isEmpty,
      "query lambdas must use SparkEntry.scratch / fileStream / memorySink: " +
        offenders.distinct.mkString(", "))
  }
}
