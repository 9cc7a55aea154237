package graft.tools

import java.nio.file.{Files, Path}
import scala.sys.process._

/** Deterministic local git repository fixture backing the `git_revisions`
  * catalog query (S8): five commits of one file with KNOWN literal
  * contents, so the revision list [[GitRevisions]] extracts can be checked
  * relationally against an oracle that recomputes sizes and digests from
  * the same literals — the extraction (log order + byte-exact `git show`)
  * is what's under test, not git itself.
  */
object GitFixture {

  /** Commit contents, oldest first. ASCII, no quotes — they are embedded
    * verbatim in the oracle SQL as VALUES literals.
    */
  val Revisions: Seq[String] = (0 until 5).map { i =>
    s"revision $i of the estimator history line\n" * (i + 2)
  }

  val FileName = "data.txt"

  /** (Re)build the fixture repo at `dir` and return the tracked file's
    * path. Idempotent: an existing fixture is wiped first, so every run
    * sees exactly [[Revisions]] regardless of prior state. Driver-side by
    * design, like the S8 source itself.
    */
  def build(dir: Path): Path = synchronized {
    graft.Harness.deleteRecursively(dir)
    Files.createDirectories(dir)
    // blank out global/system git config entirely: repo-local identity
    // alone would still inherit commit.gpgsign, hook paths, or templates
    // from the machine, breaking the "deterministic fixture" contract
    def git(args: String*): Unit = {
      val code = Process(Seq("git", "-C", dir.toString) ++ args, None,
        "GIT_CONFIG_GLOBAL" -> "/dev/null",
        "GIT_CONFIG_SYSTEM" -> "/dev/null").!(ProcessLogger(_ => ()))
      require(code == 0, s"git ${args.mkString(" ")} failed in $dir")
    }
    git("init", "-q")
    git("config", "user.email", "fixture@example.invalid")
    git("config", "user.name", "fixture")
    val file = dir.resolve(FileName)
    Revisions.zipWithIndex.foreach { case (content, i) =>
      Files.writeString(file, content)
      git("add", FileName)
      git("commit", "-q", "-m", s"rev $i")
    }
    file
  }
}
