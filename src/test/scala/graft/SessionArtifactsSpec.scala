package graft

import graft.ops.SessionArtifacts
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session scoping of the [[graft.ops.SessionArtifacts]] registry. The
  * content re-key and hit counting are pinned per family in the owning
  * ops specs (Graph, Retrieval, Curation, UnigramLm, Similarity). */
class SessionArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("an artifact built in one session is built again, not served, in spark.newSession()") {
    import spark.implicits._
    // a FILE source read in both sessions: the same backing files give the
    // same content fingerprint, so the session is the only key difference.
    // newSession() shares the SparkContext — a registry keyed on the
    // context would serve the first session's artifact here, and the
    // benchmark's catalog-slice (a fresh newSession() per pass so the
    // memos start empty) would silently run warm
    val dir = java.nio.file.Files.createTempDirectory("graft_artifacts_scope_")
      .toString + "/src"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    val family = "spec.session-scope"
    val params = ("k", System.nanoTime()) // unique per run
    var builds = 0
    def lookup(s: SparkSession): String =
      SessionArtifacts.shared(family, s, s.read.parquet(dir), params) {
        builds += 1
        s"artifact-$builds"
      }
    val hits0 = SessionArtifacts.hits(family)
    val first = lookup(spark)
    assert(lookup(spark) == first && builds == 1,
      "a second lookup in the same session must be served")
    val other = spark.newSession()
    val second = lookup(other)
    assert(builds == 2 && second != first,
      "a new session must build its own artifact")
    assert(lookup(other) == second && lookup(spark) == first && builds == 2,
      "each session keeps serving its own artifact")
    assert(SessionArtifacts.hits(family) == hits0 + 3)
  }
}
