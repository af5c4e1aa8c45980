package graft

/** The reference's own Delta table (`people_countries_delta_dask`: 5 rows,
  * partitioned by `country`, written by Spark 3.4 + Delta 2.4), read in
  * place from the reference checkout — the repo holds no copy (FIXTURES.md
  * §1). Every reader of the fixture opens [[Path]], and every guard on it
  * tests [[present]], so a guard always checks the table the read opens.
  */
private[graft] object ReferenceFixture {

  val Path = "/root/reference/data/people_countries_delta_dask"

  /** The first commit file: a read of [[Path]] lists `_delta_log` and dies
    * without it (`… is not a Delta table: no _delta_log directory`). */
  private val FirstCommit = new java.io.File(Path, "_delta_log/00000000000000000000.json")

  def present: Boolean = FirstCommit.isFile

  /** Why a check that needs the fixture did not run; names the path. */
  def absentReason: String =
    s"reference fixture absent: ${FirstCommit.getPath} does not exist (FIXTURES.md, section 1)"
}
