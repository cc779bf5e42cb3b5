package graft.queries

/** The checked-in fixture files (`fixtures/`, spec in FIXTURES.md),
  * resolved against the working directory: run the engine from the
  * repository root. Engine reads and oracle SQL both name the same
  * absolute path, so the oracle replays the file from any directory.
  */
object Fixtures {
  val dir: String =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.normalize.toString

  def path(file: String): String = s"$dir/$file"
}
